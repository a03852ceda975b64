"""Complex arithmetic as Catalyst Column expression bundles.

Spark has no complex type; we carry (re, im) as a pair of DOUBLE Columns
(materializable as a STRUCT<re,im> when stored). Every operation below
expands to plain arithmetic Columns, so the whole complex expression tree
stays inside whole-stage codegen — this is the Spark analogue of the
reference's numba-fused complex kernels (capability parity with
/root/reference/africanus/rime/predict.py:56-190 jones_mul factories and
/root/reference/africanus/util/type_inference.py dtype promotion).

A complex multiply is 4 real multiplies + 2 adds; chains of these stay
pure expressions (no UDF, no serialization boundary).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Cplx:
    """A complex value as a (re, im) pair of Column expressions."""

    re: Column
    im: Column

    # -- algebra ---------------------------------------------------------
    def __add__(self, other: "Cplx") -> "Cplx":
        return Cplx(self.re + other.re, self.im + other.im)

    def __sub__(self, other: "Cplx") -> "Cplx":
        return Cplx(self.re - other.re, self.im - other.im)

    def __mul__(self, other) -> "Cplx":
        if isinstance(other, Cplx):
            return Cplx(
                self.re * other.re - self.im * other.im,
                self.re * other.im + self.im * other.re,
            )
        return Cplx(self.re * other, self.im * other)  # real scalar/Column

    def __rmul__(self, other) -> "Cplx":
        return self.__mul__(other)

    def conj(self) -> "Cplx":
        return Cplx(self.re, -self.im)

    def abs2(self) -> Column:
        """|z|^2 — squared modulus (avoids the sqrt when only comparing)."""
        return self.re * self.re + self.im * self.im

    def abs(self) -> Column:
        return F.sqrt(self.abs2())

    def __truediv__(self, other) -> "Cplx":
        if isinstance(other, Cplx):
            d = other.abs2()
            n = self * other.conj()
            return Cplx(n.re / d, n.im / d)
        return Cplx(self.re / other, self.im / other)

    # -- struct round-trips ----------------------------------------------
    def as_struct(self) -> Column:
        return F.struct(self.re.alias("re"), self.im.alias("im"))

    def alias_pair(self, name: str) -> list[Column]:
        """Flatten to two named real columns `<name>_re`, `<name>_im`."""
        return [self.re.alias(f"{name}_re"), self.im.alias(f"{name}_im")]


def clit(re: float, im: float = 0.0) -> Cplx:
    return Cplx(F.lit(float(re)), F.lit(float(im)))


def cexp_i(theta: Column) -> Cplx:
    """e^{i·theta} = (cos θ, sin θ) — the phase-factor primitive
    (reference computes this per (source,row,chan):
    /root/reference/africanus/rime/phase.py:36-59)."""
    return Cplx(F.cos(theta), F.sin(theta))
