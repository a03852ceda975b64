"""Hogbom CLEAN — iterative deconvolution driver loop.

Parity with /root/reference/africanus/deconv/hogbom/clean.py:74-246.
Architecture per SURVEY §2.9: images are single-node arrays — the
*gridding* is distributed (operators/gridding.py), the CLEAN minor cycle
runs on the driver over the collected grid (ny×nx ≪ data), and clean
components come back as a DataFrame. A 100 TB dataset still produces a
~10^6-cell image; only the reduction to that image is cluster work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from codex_africanus_spark.sources.tables import local_frame


def restore(
    components: pd.DataFrame,
    shape: tuple[int, int],
    origin: tuple[int, int],
    sigma: tuple[float, float],
    residual: np.ndarray | None = None,
) -> np.ndarray:
    """Convolve clean components with the fitted clean beam and add the
    residual (reference clean.py:202-246)."""
    ny, nx = shape
    out = np.zeros(shape) if residual is None else residual.astype(np.float64).copy()
    yy, xx = np.indices(shape)
    su, sv = sigma
    for r in components.itertuples():
        cy, cx = int(r.u_cell - origin[0]), int(r.v_cell - origin[1])
        out += r.flux * np.exp(
            -(((yy - cy) / su) ** 2 + ((xx - cx) / sv) ** 2) / 2.0
        )
    return out


def hogbom_clean(
    spark: SparkSession,
    grid: DataFrame,
    gamma: float = 0.1,
    threshold_frac: float = 0.2,
    maxiter: int = 50,
) -> DataFrame:
    """Peak-find / subtract loop over a collected uv-grid magnitude image.

    grid: output of operators/gridding.grid_natural (u_cell, v_cell,
    grid_re_q, grid_im_q, wsum_q). A delta-function PSF stands in for the
    fitted PSF patch (psf_fit, reference clean.py:40-72) — the loop
    structure (argmax → subtract γ·peak → record component) is identical.
    """
    # canonical cell order: argmax tie-breaks become deterministic
    # (toPandas order is partition-dependent otherwise)
    pdf = (
        grid.select("u_cell", "v_cell", "grid_re_q", "wsum_q")
        .toPandas()
        .sort_values(["u_cell", "v_cell"])
        .reset_index(drop=True)
    )
    schema = "iteration int, u_cell long, v_cell long, flux double"
    if pdf.empty:
        return local_frame(spark, [], schema)
    resid = (pdf.grid_re_q / pdf.wsum_q).to_numpy(dtype=np.float64)
    cells = pdf[["u_cell", "v_cell"]].to_numpy()
    thresh = threshold_frac * np.abs(resid).max()
    comps = []
    for it in range(maxiter):
        p = int(np.abs(resid).argmax())
        peak = resid[p]
        if abs(peak) <= thresh:
            break
        comps.append((it, int(cells[p, 0]), int(cells[p, 1]), float(gamma * peak)))
        resid[p] -= gamma * peak
    return local_frame(spark, comps, schema)


def _q_half_away(x: np.ndarray, grid: float) -> np.ndarray:
    """sign·floor(|x|·grid + 0.5) — the quantization spelled identically
    in the oracle SQL (the op-sequence-sharing discipline: np.round is
    banker's, SQL ROUND is half-away; sharing the exact float ops
    sidesteps both engines' rounding modes entirely)."""
    return np.sign(x) * np.floor(np.abs(x) * grid + 0.5)


def _hogbom_minor_cycle(grid: DataFrame, gamma: float, threshold_frac: float, maxiter: int):
    """Collect the uv-grid image and run the Hogbom peak/subtract loop
    ONCE (shared by clean_restore and the beam-width sweep — the
    pick/subtract arithmetic is the oracle-parity hot spot and must not
    fork). Returns (cells, resid, comps, picks), or None for an empty
    grid. The subtraction is resid −= γ·resid, bit-identical to the
    oracle's decay recursion."""
    pdf = (
        grid.select("u_cell", "v_cell", "grid_re_q", "wsum_q")
        .toPandas()
        .sort_values(["u_cell", "v_cell"])
        .reset_index(drop=True)
    )
    if pdf.empty:
        return None
    resid = (pdf.grid_re_q / pdf.wsum_q).to_numpy(dtype=np.float64)
    cells = pdf[["u_cell", "v_cell"]].to_numpy()
    thresh = threshold_frac * np.abs(resid).max()
    comps = []
    picks = np.zeros(len(resid), dtype=np.int64)
    for _ in range(maxiter):
        p = int(np.abs(resid).argmax())
        peak = resid[p]
        if abs(peak) <= thresh:
            break
        comps.append((int(cells[p, 0]), int(cells[p, 1]), float(gamma * peak)))
        picks[p] += 1
        resid[p] -= gamma * peak
    return cells, resid, comps, picks


def _beam_splat_q(cells: np.ndarray, comps: list, sigma: float) -> np.ndarray:
    """Σ over components of the 1e-9-quantized restoring-beam Gaussian."""
    beam_q = np.zeros(len(cells), dtype=np.int64)
    for cu, cv, flux in comps:
        du = cells[:, 0] - cu
        dv = cells[:, 1] - cv
        term = flux * np.exp(-(du * du + dv * dv) / (2.0 * sigma * sigma))
        beam_q += _q_half_away(term, 1e9).astype(np.int64)
    return beam_q


def clean_restore(
    spark: SparkSession,
    grid: DataFrame,
    gamma: float = 0.1,
    threshold_frac: float = 0.2,
    maxiter: int = 50,
    sigma: float = 1.5,
) -> DataFrame:
    """Full Hogbom minor cycle + restore over the collected uv-grid
    image (reference deconv/hogbom/clean.py:122-246 end-to-end): run the
    peak/subtract loop, then convolve the clean components with a
    restoring beam (fixed σ in cell units — the reference's restore also
    takes the fitted beam as an input parameter) and add the residual.

    Exactness: the loop's subtraction is resid −= γ·resid (bit-identical
    to the oracle's decay recursion), so the residual after n picks IS
    the decay table at k = n; each Gaussian restore term is quantized to
    a 1e-9 integer before summing. Scale shape: gridding is the cluster
    reduction, everything here is O(#cells × #components) driver work on
    the ~10^6-cell image (SURVEY §2.9)."""
    schema = (
        "u_cell long, v_cell long, n_picks int, residual double, "
        "restored double"
    )
    mc = _hogbom_minor_cycle(grid, gamma, threshold_frac, maxiter)
    if mc is None:
        return local_frame(spark, [], schema)
    cells, resid, comps, picks = mc
    beam_q = _beam_splat_q(cells, comps, sigma)

    out = pd.DataFrame(
        {
            "u_cell": cells[:, 0],
            "v_cell": cells[:, 1],
            "n_picks": picks,
            "residual": _q_half_away(resid, 1e6) / 1e6,
            "restored": _q_half_away(resid + beam_q / 1e9, 1e6) / 1e6,
        }
    )
    return local_frame(spark, out, schema)


def clean_restore_beam_sweep(
    spark: SparkSession,
    grid: DataFrame,
    sigmas: tuple = (1.0, 1.5, 2.5),
    gamma: float = 0.1,
    threshold_frac: float = 0.2,
    maxiter: int = 50,
) -> DataFrame:
    """Restoring-beam WIDTH SWEEP over one CLEAN solution: the Hogbom
    minor cycle runs ONCE (components are beam-independent; shared
    _hogbom_minor_cycle helper), then the restore convolution is
    evaluated at each σ — the fitted-vs-forced beam comparison an
    imaging pipeline runs when choosing its restoring beam (reference
    restore takes the beam as an input parameter,
    deconv/hogbom/clean.py:200-246). Output is the full restored image
    per σ. Same exactness contract as clean_restore."""
    schema = (
        "sigma double, u_cell long, v_cell long, n_picks int, "
        "residual double, restored double"
    )
    mc = _hogbom_minor_cycle(grid, gamma, threshold_frac, maxiter)
    if mc is None:
        return local_frame(spark, [], schema)
    cells, resid, comps, picks = mc
    frames = []
    for sigma in sigmas:
        beam_q = _beam_splat_q(cells, comps, sigma)
        frames.append(
            pd.DataFrame(
                {
                    "sigma": float(sigma),
                    "u_cell": cells[:, 0],
                    "v_cell": cells[:, 1],
                    "n_picks": picks,
                    "residual": _q_half_away(resid, 1e6) / 1e6,
                    "restored": _q_half_away(resid + beam_q / 1e9, 1e6) / 1e6,
                }
            )
        )
    return local_frame(spark, pd.concat(frames, ignore_index=True), schema)


# ---------------------------------------------------------------------------
# Multi-scale CLEAN (r10): Cornwell (2008) scale-sensitive deconvolution.
# Reference anchor: africanus/deconv/hogbom/clean.py:122-200 is the
# 1-scale minor cycle; the multi-scale extension convolves the residual
# with a small bank of tapered kernels, picks the globally best
# (scale, position) response, and subtracts the scaled blob.
#
# Exact-oracle design: kernel weights are DYADIC binomial taps (exact
# in binary floating point), per-tap products quantize to the 1e-9 grid
# before the integer tap sum (order-free — parity rule: float sums are
# order-sensitive), and the scale bias multiplies the INTEGER conv sum
# (dyadic x int = exact double), so every pick decision compares
# identical doubles in both engines; the DuckDB twin replays the loop
# as a recursive CTE carrying the dense 21x21 residual as a DOUBLE[]
# (the Gauss-Newton DOUBLE[] replay technique, queries/radio.py).
# ---------------------------------------------------------------------------

MS_K1D = {
    0: (1.0,),
    1: (0.25, 0.5, 0.25),
    2: (0.0625, 0.25, 0.375, 0.25, 0.0625),
}
MS_BIAS = {0: 1.0, 1: 0.75, 2: 0.5}
MS_SCALES = (0, 1, 2)
MS_N = 21  # dense cell range [-10, 10] in both u and v


def ms_taps(k: int) -> list:
    """2-D separable kernel taps (di, dj, weight) for scale k — outer
    product of the dyadic 1-D binomial row (all weights exact dyadics,
    shared verbatim with the oracle SQL's literal tap table)."""
    w1 = MS_K1D[k]
    r = len(w1) // 2
    return [
        (di, dj, w1[di + r] * w1[dj + r])
        for di in range(-r, r + 1)
        for dj in range(-r, r + 1)
    ]


def multiscale_clean(
    spark: SparkSession,
    grid: DataFrame,
    gamma: float = 0.1,
    threshold_frac: float = 0.2,
    maxiter: int = 20,
) -> DataFrame:
    """Multi-scale CLEAN minor cycle over the collected uv-grid image.

    Per iteration: convolve the dense residual with each scale kernel
    (per-tap 1e-9-quantized products, integer tap sums), pick the
    (scale, cell) maximizing |bias_k * conv_q| over PRESENT cells
    (ties: smaller scale, canonical cell order), subtract the
    gamma-scaled kernel blob from the dense residual (absent cells can
    absorb blob wings but never become pick candidates), and record
    (iteration, scale, u_cell, v_cell, flux). Stops when the best
    metric falls to threshold_frac of the initial best.

    Scale split: the cluster reduces O(n_vis) rows into the O(#cells)
    grid (grid_natural's exact fixed-point agg); this loop is
    driver-side over the ~441-cell image — the hogbom_clean precedent
    (SURVEY 2.9 driver-loop budget).
    """
    schema = (
        "iteration int, scale int, u_cell long, v_cell long, flux double"
    )
    pdf = (
        grid.select("u_cell", "v_cell", "grid_re_q", "wsum_q")
        .toPandas()
        .sort_values(["u_cell", "v_cell"])
        .reset_index(drop=True)
    )
    if pdf.empty:
        return local_frame(spark, [], schema)
    half = MS_N // 2
    if (pdf.u_cell.abs().max() > half) or (pdf.v_cell.abs().max() > half):
        raise ValueError(
            f"multiscale_clean: cells outside the dense [-{half},{half}] "
            "grid — widen MS_N"
        )
    im = np.zeros((MS_N, MS_N), dtype=np.float64)
    present = np.zeros((MS_N, MS_N), dtype=bool)
    iu = pdf.u_cell.to_numpy() + half
    iv = pdf.v_cell.to_numpy() + half
    im[iu, iv] = (pdf.grid_re_q / pdf.wsum_q).to_numpy(dtype=np.float64)
    present[iu, iv] = True

    def conv_q(image: np.ndarray, k: int) -> np.ndarray:
        """Integer conv image: sum of 1e-9-quantized per-tap products
        (_q_half_away — the identical float-op sequence as the oracle's
        sign*floor(abs*grid+0.5))."""
        r = len(MS_K1D[k]) // 2
        padded = np.zeros((MS_N + 2 * r, MS_N + 2 * r), dtype=np.float64)
        padded[r: r + MS_N, r: r + MS_N] = image
        out = np.zeros((MS_N, MS_N), dtype=np.int64)
        for di, dj, w in ms_taps(k):
            shifted = padded[r + di: r + di + MS_N, r + dj: r + dj + MS_N]
            out += _q_half_away(w * shifted, 1e9).astype(np.int64)
        return out

    def best_pick(image: np.ndarray):
        """(k, iu, iv, conv_q, |metric|) of the best (scale, present
        cell); scales ascending + canonical cell order break ties."""
        best = None
        for k in MS_SCALES:
            cq = conv_q(image, k)
            metric = np.abs(MS_BIAS[k] * cq)  # dyadic x int64 — exact
            masked = np.where(present, metric, -1.0)
            p = int(masked.argmax())  # C-order == (u_cell, v_cell) order
            pu, pv = divmod(p, MS_N)
            key = (-masked.flat[p], k, p)
            if best is None or key < best[0]:
                best = (key, k, pu, pv, int(cq[pu, pv]), float(masked.flat[p]))
        return best[1], best[2], best[3], best[4], best[5]

    _, _, _, _, m0 = best_pick(im)
    thresh = threshold_frac * m0
    comps = []
    for it in range(maxiter):
        k, pu, pv, cq, mabs = best_pick(im)
        if mabs <= thresh:
            break
        flux = gamma * (cq / 1e9)
        for di, dj, w in ms_taps(k):
            uu, vv = pu + di, pv + dj
            if 0 <= uu < MS_N and 0 <= vv < MS_N:
                im[uu, vv] -= flux * w
        comps.append((it, k, pu - half, pv - half, flux))
    return local_frame(spark, comps, schema)
