"""Phase-delay term: e^{±2πi(u·l + v·m + w·(n−1))·ν/c}.

Parity with /root/reference/africanus/rime/phase.py:12-63 (numpy),
cuda/phase.py, jax/phase.py — here a single Column-expression bundle that
Catalyst codegens (one fused loop; the multi-backend matrix collapses).

The loop-invariant real path (u·l+v·m+w·(n−1)) is built once and scaled by
frequency, mirroring the reference's hoisting of the dot product out of
the channel loop (fused/terms/phase.py:44-76) — express it as a separate
column so codegen CSE reuses it across channels.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from codex_africanus_spark.constants import MINUS_TWO_PI_OVER_C, TWO_PI_OVER_C


def phase_path(u: Column, v: Column, w: Column, l: Column, m: Column, n: Column) -> Column:
    """Real path-length term u·l + v·m + w·(n−1) (phase.py:45-57)."""
    return u * l + v * m + w * (n - F.lit(1.0))

def phase_delay_angle(
    path: Column, frequency: Column, convention: str = "fourier"
) -> Column:
    """θ = ±2π·path·ν/c; 'fourier' = −, 'casa' = + (phase.py:22-33)."""
    if convention == "fourier":
        const = MINUS_TWO_PI_OVER_C
    elif convention == "casa":
        const = TWO_PI_OVER_C
    else:
        raise ValueError(f"convention must be 'fourier' or 'casa', got {convention!r}")
    return F.lit(const) * path * frequency
