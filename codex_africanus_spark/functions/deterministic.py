"""Deterministic (bit-reproducible) aggregation mode.

The reference guarantees reproducible sums via Kahan compensated, ordered
folds (/root/reference/africanus/experimental/rime/fused/core.py:97-118).
Spark's hash aggregation is unordered, so float sums vary at the ULP level
between runs/engines. Instead of porting Kahan (which still depends on
order), this engine offers *fixed-point exact aggregation*: quantize each
addend to an integer grid, sum exactly in BIGINT (associative ⇒
order-independent and engine-independent), and rescale once at the end.

For values bounded by |x| ≤ B with scale s, correctness requires
n·B·s < 2^63 — at 100 TB (~10^12 rows) and s=10^6 that still allows
B ≈ 9×10^3 per-addend magnitude; for larger dynamic range use a smaller
scale or a two-word (hi/lo) split. Quantization error is ≤ 1/(2s) per
addend, which dominates float roundoff anyway at these scales.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(col: Column, scale: float = 1e6) -> Column:
    """Round to the 1/scale grid and cast to exact integer units.

    Implemented as sign-aware truncation (x·s + ±0.5 → cast) rather than
    F.round: identical round-half-away-from-zero semantics (and the same
    double arithmetic DuckDB's ROUND performs), but stays a cheap codegen
    double op instead of Spark's per-value BigDecimal path (~3× faster
    hot loops at sf0.1)."""
    v = col * F.lit(scale)
    return (v + F.when(v >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast("long")


def qsum(col: Column, scale: float = 1e6) -> Column:
    """Order-independent exact sum: Σ round(x·scale) as BIGINT.

    Divide by `scale` once after aggregation to recover a double —
    the division of identical integers is itself bit-deterministic.
    """
    return F.sum(quantize(col, scale))


def qsum_wide(col: Column, scale: float = 1e6) -> Column:
    """qsum with a DECIMAL(38,0) accumulator (r11): for fine grids x
    fact cardinality where the BIGINT sum overflows under ANSI mode
    (e.g. 1e12-grid squares over 6M rows ~ 1.5e20). DuckDB needs no
    mirror change — its SUM(BIGINT) is already HUGEINT (int128); both
    engines then convert the same exact integer to its nearest double
    when the post-agg division recovers the value."""
    return F.sum(quantize(col, scale).cast("decimal(38,0)"))
