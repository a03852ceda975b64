"""FFT imaging tier: distributed uv-grid accumulation → driver FFT.

The reference's wgridder path (/root/reference/africanus/gridding/
wgridder/vis2im.py:16-130) wraps the native ducc0 library, unavailable
here; this module implements the same *architecture* with NumPy's FFT:

- the cluster does the O(n_vis) work: scatter-add visibilities onto the
  uv-grid via the deterministic histogram aggregation
  (operators/gridding.grid_natural — partial+final hash agg, exactly the
  per-row-chunk partial images + tree-sum of vis2im.py:46-76);
- the driver does the O(n_pix log n_pix) work: inverse FFT of the
  (small) accumulated grid → dirty image. At 100 TB the grid is still
  ~10⁶ cells — driver-side FFT is the right split, and is what the
  reference's band loop does per band.

Correctness tier: `test_fft_imaging.py` checks the machine-precision
identity between this pipeline and the direct DFT over the same grid
(the reference validates wgridder against `explicit_gridder` the same
way, test_wgridder.py:18-108, l2 ≤ 1e-4; ours is exact because both
sides evaluate the same nearest-cell discretization).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.sources.tables import local_frame

GRID_SCALE = 1e6


def accumulate_grid(
    vis: DataFrame, nx: int = 64, ny: int = 64, cell: float = 10.0
) -> DataFrame:
    """Scatter-add vis onto an (ny × nx) uv-grid with wrap-around cell
    indices (FFT-periodic layout); exact fixed-point accumulation."""
    ucell = F.pmod(F.round(F.col("u") / F.lit(cell)).cast("long"), F.lit(nx))
    vcell = F.pmod(F.round(F.col("v") / F.lit(cell)).cast("long"), F.lit(ny))
    gated = vis.filter(~(F.col("flag") | F.col("flag_row")))
    return (
        gated.groupBy(ucell.alias("u_cell"), vcell.alias("v_cell"))
        .agg(
            qsum(F.col("vis_re") * F.col("weight"), GRID_SCALE).alias("g_re_q"),
            qsum(F.col("vis_im") * F.col("weight"), GRID_SCALE).alias("g_im_q"),
            qsum(F.col("weight"), GRID_SCALE).alias("w_q"),
        )
    )


def dirty_image(
    vis: DataFrame, nx: int = 64, ny: int = 64, cell: float = 10.0
) -> tuple[np.ndarray, float]:
    """vis → dirty image: distributed accumulation, driver FFT.

    Returns (image[ny, nx], wsum) — image normalized by the weight sum
    (natural weighting), matching vis2im's normalization."""
    rows = accumulate_grid(vis, nx, ny, cell).collect()
    grid = np.zeros((ny, nx), dtype=np.complex128)
    wsum = 0.0
    for r in rows:
        grid[int(r.v_cell), int(r.u_cell)] += (r.g_re_q + 1j * r.g_im_q) / GRID_SCALE
        wsum += r.w_q / GRID_SCALE
    img = np.fft.ifft2(grid).real * (nx * ny)
    if wsum > 0:
        img /= wsum
    return img, wsum


def accumulate_grid_wstack(
    vis: DataFrame,
    nx: int = 64,
    ny: int = 64,
    cell: float = 10.0,
    w_step: float = 2.0,
) -> DataFrame:
    """w-stacking distributed stage: one pass groups on
    (w_plane, u_cell, v_cell) — same single-shuffle shape as the band
    loop, the plane axis just multiplies the (still tiny) grid
    cardinality. w discretizes to nearest plane, matching the reference
    wgridder's w-quantization onto nplanes (vis2im.py:16-130 via ducc0
    ms2dirty, which selects nplanes from the w range and ε)."""
    ucell = F.pmod(F.round(F.col("u") / F.lit(cell)).cast("long"), F.lit(nx))
    vcell = F.pmod(F.round(F.col("v") / F.lit(cell)).cast("long"), F.lit(ny))
    wplane = F.round(F.col("w") / F.lit(w_step)).cast("long")
    gated = vis.filter(~(F.col("flag") | F.col("flag_row")))
    return (
        gated.groupBy(wplane.alias("w_plane"), ucell.alias("u_cell"), vcell.alias("v_cell"))
        .agg(
            qsum(F.col("vis_re") * F.col("weight"), GRID_SCALE).alias("g_re_q"),
            qsum(F.col("vis_im") * F.col("weight"), GRID_SCALE).alias("g_im_q"),
            qsum(F.col("weight"), GRID_SCALE).alias("w_q"),
        )
    )


def _lm_grid(nx: int, ny: int, cell: float):
    """Centered (l, m) image coordinates on the FFT's reciprocal grid:
    pixel lx carries l = wrap(lx)/(nx·cell), so e^{2πi·uc·lx/nx}
    == e^{2πi·(uc·cell)·l} — physical u·l phase."""
    lx = (np.arange(nx) + nx // 2) % nx - nx // 2
    ly = (np.arange(ny) + ny // 2) % ny - ny // 2
    l = lx / (nx * cell)
    m = ly / (ny * cell)
    mm, ll = np.meshgrid(m, l, indexing="ij")
    return ll, mm


def dirty_image_wstack(
    vis: DataFrame,
    nx: int = 64,
    ny: int = 64,
    cell: float = 10.0,
    w_step: float = 2.0,
) -> tuple[np.ndarray, float]:
    """Wide-field dirty image via w-stacking (the reference wgridder's
    w-correction, vis2im.py:16-130): vis partitioned into w-planes, one
    distributed (plane, cell) accumulation, then per-plane driver FFT
    multiplied by the w-screen e^{2πi·w_p·(n(l,m)−1)} and summed.

    The cluster still does all O(n_vis) work in ONE shuffle; the driver
    does O(n_planes · n_pix log n_pix) — n_planes is O(w_range/w_step),
    independent of data size, so the split holds at 100 TB."""
    rows = accumulate_grid_wstack(vis, nx, ny, cell, w_step).collect()
    grids: dict[int, np.ndarray] = {}
    wsum = 0.0
    for r in rows:
        g = grids.setdefault(int(r.w_plane), np.zeros((ny, nx), dtype=np.complex128))
        g[int(r.v_cell), int(r.u_cell)] += (r.g_re_q + 1j * r.g_im_q) / GRID_SCALE
        wsum += r.w_q / GRID_SCALE
    ll, mm = _lm_grid(nx, ny, cell)
    n_minus_1 = np.sqrt(np.maximum(0.0, 1.0 - ll * ll - mm * mm)) - 1.0
    img = np.zeros((ny, nx))
    for p, g in sorted(grids.items()):
        plane_img = np.fft.ifft2(g) * (nx * ny)
        screen = np.exp(2j * np.pi * (p * w_step) * n_minus_1)
        img += (plane_img * screen).real
    if wsum > 0:
        img /= wsum
    return img, wsum


def dirty_image_direct(vis_rows, nx: int = 64, ny: int = 64, cell: float = 10.0):
    """Driver-side direct-DFT oracle over the same discretized grid (the
    explicit_gridder analogue) — for tests only."""
    import math

    def round_away(x: float) -> int:
        # Spark's round() is half-away-from-zero; Python's is half-even
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    grid = np.zeros((ny, nx), dtype=np.complex128)
    wsum_q = 0
    for r in vis_rows:
        if r.flag or r.flag_row:
            continue
        uc = round_away(r.u / cell) % nx
        vc = round_away(r.v / cell) % ny
        # replicate the engine's per-row fixed-point quantization exactly
        grid[vc, uc] += (
            round(r.vis_re * r.weight * GRID_SCALE)
            + 1j * round(r.vis_im * r.weight * GRID_SCALE)
        ) / GRID_SCALE
        wsum_q += round(r.weight * GRID_SCALE)
    wsum = wsum_q / GRID_SCALE
    ly, lx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    img = np.zeros((ny, nx))
    for vc in range(ny):
        for uc in range(nx):
            g = grid[vc, uc]
            if g == 0:
                continue
            img += (
                g * np.exp(2j * np.pi * (vc * ly / ny + uc * lx / nx))
            ).real
    return (img / wsum if wsum > 0 else img), wsum


# ---------------------------------------------------------------------------
# dirty2ms / residual / hessian (the remaining wgridder reductions:
# im2vis.py:16-110, im2residim.py:40-110, hessian.py:36-110)
# ---------------------------------------------------------------------------

def model_vis_from_image(
    vis: DataFrame, image: np.ndarray, cell: float = 10.0, round_dp: int = 9
) -> DataFrame:
    """Degrid a model image onto vis rows — the dirty2ms analogue
    (reference im2vis.py:16-110) in this module's architecture split:
    the driver forward-FFTs the (small) image, the resulting uv samples
    broadcast as a (v_cell, u_cell, m_re, m_im) table, and each vis row
    picks up its model value by nearest-cell equi-join (broadcast hash
    join — zero shuffle of the fact table).

    The model grid is rounded to `round_dp` decimals so the frame is
    engine-reproducible (same rationale as the gains tables; FFT vs
    closed-form trig differ at ~1e-15)."""
    ny, nx = image.shape
    G = np.fft.fft2(image)
    rows = [
        (
            vc,
            uc,
            round(float(G[vc, uc].real), round_dp) + 0.0,
            round(float(G[vc, uc].imag), round_dp) + 0.0,
        )
        for vc in range(ny)
        for uc in range(nx)
    ]
    mdf = local_frame(
        vis.sparkSession,
        rows,
        "v_cell long, u_cell long, m_re double, m_im double",
    )
    ucell = F.pmod(F.round(F.col("u") / F.lit(cell)).cast("long"), F.lit(nx))
    vcell = F.pmod(F.round(F.col("v") / F.lit(cell)).cast("long"), F.lit(ny))
    return (
        vis.withColumn("u_cell", ucell)
        .withColumn("v_cell", vcell)
        .join(F.broadcast(mdf), ["v_cell", "u_cell"])
    )


def residual_grid(vis: DataFrame, image: np.ndarray, cell: float = 10.0) -> DataFrame:
    """Distributed O(n_vis) stage of the residual: accumulate
    grid(vis − dirty2ms(image)) with exact fixed-point sums
    (im2residim.py:40-76 computes ms2dirty(vis − dirty2ms(image)))."""
    mv = model_vis_from_image(vis, image, cell)
    gated = mv.filter(~(F.col("flag") | F.col("flag_row")))
    return gated.groupBy("u_cell", "v_cell").agg(
        qsum((F.col("vis_re") - F.col("m_re")) * F.col("weight"), GRID_SCALE).alias("r_re_q"),
        qsum((F.col("vis_im") - F.col("m_im")) * F.col("weight"), GRID_SCALE).alias("r_im_q"),
        qsum(F.col("weight"), GRID_SCALE).alias("w_q"),
    )


def _ifft_collect(rows, ny: int, nx: int, re_f: str, im_f: str):
    grid = np.zeros((ny, nx), dtype=np.complex128)
    wsum = 0.0
    for r in rows:
        grid[int(r.v_cell), int(r.u_cell)] += (
            getattr(r, re_f) + 1j * getattr(r, im_f)
        ) / GRID_SCALE
        wsum += r.w_q / GRID_SCALE
    img = np.fft.ifft2(grid).real * (nx * ny)
    if wsum > 0:
        img /= wsum
    return img, wsum


def residual_image(
    vis: DataFrame, image: np.ndarray, cell: float = 10.0
) -> tuple[np.ndarray, float]:
    """residim = ms2dirty(vis − dirty2ms(image)) (im2residim.py:40-110):
    distributed residual-grid accumulation, then the driver's
    O(n_pix log n_pix) inverse FFT."""
    ny, nx = image.shape
    rows = residual_grid(vis, image, cell).collect()
    return _ifft_collect(rows, ny, nx, "r_re_q", "r_im_q")
