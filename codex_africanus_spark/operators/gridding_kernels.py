"""Convolution-kernel tap library for the footprint gridder — the
anti-aliasing window functions of the reference's
gridding/perleypolyhedron/kernels.py (uspace :16-33, sinc :36-42,
kbsinc :52-66), NumPy-only (the Bessel J_n falls back to quadrature
since scipy is absent here).

Driver-side by design: a kernel is O(oversample·(W+2)) floats — it never
ships as data, only as generated Column literals (operators/gridding
grid_convolved explodes the footprint as literal structs) or a broadcast
array for pandas-UDF degridders. The taps therefore cost nothing at
100 TB; the row expansion factor W² is the scale knob.
"""

from __future__ import annotations

import numpy as np


def uspace(W: int, oversample: int = 5) -> np.ndarray:
    """Oversampled tap coordinates: W odd taps centred on 0, padded by one
    unit each side, `oversample` samples per unit."""
    if W % 2 != 1:
        raise ValueError("kernel full support W must be odd")
    return np.arange(oversample * (W + 2)) / float(oversample) - (W + 2) // 2


def sinc_kernel(W: int, oversample: int = 5, a: float = 1.0) -> np.ndarray:
    """Oversampled sinc window, normalized to unit sum."""
    res = np.sinc(uspace(W, oversample) * a)
    return res / np.sum(res)


def bessel_jn(order: int, x: np.ndarray, n_quad: int = 4096) -> np.ndarray:
    """Bessel function of the first kind J_n via the integral
    representation J_n(x) = (1/π)∫₀^π cos(nθ − x·sinθ) dθ (trapezoid
    quadrature) — the scipy.special.jn stand-in."""
    theta = np.linspace(0.0, np.pi, n_quad)
    x = np.asarray(x, dtype=np.float64)
    integrand = np.cos(order * theta[None, :] - x[..., None] * np.sin(theta[None, :]))
    trapz = getattr(np, "trapezoid", None) or np.trapz
    return trapz(integrand, theta, axis=-1) / np.pi


def kaiser_bessel_sinc_kernel(
    W: int, b: float, oversample: int = 5, order: int = 15
) -> np.ndarray:
    """Modified Kaiser-Bessel windowed sinc (Jackson et al. 1991, with
    the reference's higher-order-Bessel modification). `b` is the shape
    parameter (the reference auto-fits it per support — pass explicitly)."""
    u = uspace(W, oversample)
    arg = 1.0 - (2.0 * u / ((W + 2) + 1)) ** 2
    wnd = bessel_jn(order, b * np.sqrt(np.maximum(arg, 0.0))) / ((W + 2) + 1)
    res = sinc_kernel(W, oversample=oversample) * wnd * np.sum(wnd)
    return res / np.sum(res)


def taps_to_pairs(kernel: np.ndarray, W: int) -> list[tuple[int, float]]:
    """Integer-sampled (oversample=1) kernel → [(cell offset, weight)]
    pairs for the footprint gridder's literal-struct explode
    (operators/gridding.grid_convolved). Drops the zero padding taps."""
    if len(kernel) != W + 2:
        raise ValueError(f"expected {W + 2} taps at oversample=1, got {len(kernel)}")
    half = (W + 2) // 2
    return [
        (i - half, float(w))
        for i, w in enumerate(kernel)
        if abs(w) > 0.0 and abs(i - half) <= W // 2
    ]
