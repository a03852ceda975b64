"""Spherical ↔ tangent-plane coordinate transforms as Column expressions.

Parity with /root/reference/africanus/coordinates/coordinates.py:29-199
(radec_to_lmn, lmn_to_radec, lm_to_radec). Pure trig — stays
JVM-side in whole-stage codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def radec_to_lmn(
    ra: Column, dec: Column, ra0: Column, dec0: Column
) -> tuple[Column, Column, Column]:
    """l = cos δ · sin Δα
    m = sin δ cos δ₀ − cos δ sin δ₀ cos Δα
    n = sqrt(1 − l² − m²)   (clamped at 0 like the reference's n<0→0,
    coordinates.py:63-66 / phase.py:52)."""
    dra = ra - ra0
    l = F.cos(dec) * F.sin(dra)
    m = F.sin(dec) * F.cos(dec0) - F.cos(dec) * F.sin(dec0) * F.cos(dra)
    n = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - l * l - m * m))
    return l, m, n


def lmn_to_radec(l: Column, m: Column, n: Column, ra0: Column, dec0: Column):
    """Inverse transform (coordinates.py:122-160)."""
    dec = F.asin(m * F.cos(dec0) + n * F.sin(dec0))
    ra = ra0 + F.atan2(l, n * F.cos(dec0) - m * F.sin(dec0))
    return ra, dec


def lm_to_radec(l: Column, m: Column, ra0: Column, dec0: Column):
    n = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - l * l - m * m))
    return lmn_to_radec(l, m, n, ra0, dec0)


# SQL mirrors for oracle parity ------------------------------------------

def radec_to_lmn_sql(ra: str, dec: str, ra0: str, dec0: str) -> tuple[str, str, str]:
    l = f"(cos({dec}) * sin(({ra}) - ({ra0})))"
    m = (
        f"(sin({dec}) * cos({dec0}) - cos({dec}) * sin({dec0}) * cos(({ra}) - ({ra0})))"
    )
    n = f"sqrt(greatest(0.0, 1.0 - {l}*{l} - {m}*{m}))"
    return l, m, n
