"""Spectral models as Column expressions.

Parity with /root/reference/africanus/model/spectral/spec_model.py:102-180
(standard & log power-law with polynomial spectral indices) and the
WSClean polynomial variant
/root/reference/africanus/model/wsclean/spec_model.py:9-27,71-132:
  ordinary:     I(ν) = I₀ + Σᵢ cᵢ·(ν/ν₀ − 1)^(i+1)
  logarithmic:  I(ν) = exp(ln I₀ + Σᵢ cᵢ·lnⁱ⁺¹(ν/ν₀))
All pure arithmetic → codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def spectral_model(
    flux: Column, spi: Column, ref_freq: Column, frequency: Column, base: str = "std"
) -> Column:
    """Power-law flux scaling.

    base='std':  I·(ν/ν₀)^α            (spec_model.py:11-27)
    base='log':  I·exp(α·ln(ν/ν₀))     (identical value, log form)
    """
    ratio = frequency / ref_freq
    if base == "std":
        return flux * F.pow(ratio, spi)
    if base == "log":
        return flux * F.exp(spi * F.log(ratio))
    raise ValueError(f"unknown base {base!r}")


def wsclean_spectra(
    flux: Column,
    coeffs: list[Column],
    log_poly: Column,
    ref_freq: Column,
    frequency: Column,
) -> Column:
    """WSClean ordinary/logarithmic polynomial (Horner-style chain of
    Column exprs; spec_model.py:9-27)."""
    x = frequency / ref_freq
    ordinary = flux
    term = F.lit(1.0)
    for c in coeffs:
        term = term * (x - F.lit(1.0))
        ordinary = ordinary + c * term
    logx = F.log(x)
    logarithmic = F.log(flux)
    lterm = F.lit(1.0)
    for c in coeffs:
        lterm = lterm * logx
        logarithmic = logarithmic + c * lterm
    return F.when(log_poly, F.exp(logarithmic)).otherwise(ordinary)
