"""2×2 complex Jones-matrix algebra as Column expression bundles.

Capability parity with the reference's generated jones_mul kernels
(/root/reference/africanus/rime/predict.py:56-190: scalar / diagonal /
full-2×2 specializations) and the calibration variants
(/root/reference/africanus/calibration/utils/corrupt_vis.py:10-56,
correct_vis.py:10-60 det-based inverse).

A Jones matrix is 4 Cplx cells [[xx, xy], [yx, yy]]. All products expand
to real arithmetic Columns (a full A·B·Cᴴ chain ≈ 64 flops of generated
expressions) and stay inside whole-stage codegen. Diagonal and scalar
modes (reference's DIAG_DIAG/DIAG/FULL, calibration/utils/utils.py:11-44)
are the same class with zero off-diagonals — Catalyst constant-folds the
dead terms, mirroring the reference's compile-time specialization.
"""

from __future__ import annotations

from dataclasses import dataclass

from codex_africanus_spark.functions.complex_algebra import Cplx, clit


@dataclass(frozen=True)
class Jones2x2:
    xx: Cplx
    xy: Cplx
    yx: Cplx
    yy: Cplx

    @staticmethod
    def diagonal(xx: Cplx, yy: Cplx) -> "Jones2x2":
        zero = clit(0.0)
        return Jones2x2(xx, zero, zero, yy)

    @staticmethod
    def scalar(g: Cplx) -> "Jones2x2":
        return Jones2x2.diagonal(g, g)

    @staticmethod
    def identity() -> "Jones2x2":
        return Jones2x2.diagonal(clit(1.0), clit(1.0))

    def __matmul__(self, o: "Jones2x2") -> "Jones2x2":
        return Jones2x2(
            self.xx * o.xx + self.xy * o.yx,
            self.xx * o.xy + self.xy * o.yy,
            self.yx * o.xx + self.yy * o.yx,
            self.yx * o.xy + self.yy * o.yy,
        )

    def __add__(self, o: "Jones2x2") -> "Jones2x2":
        return Jones2x2(self.xx + o.xx, self.xy + o.xy, self.yx + o.yx, self.yy + o.yy)

    def hermitian(self) -> "Jones2x2":
        """Conjugate transpose — the reference applies this implicitly to
        the antenna-2 side of every product (predict.py:199-224)."""
        return Jones2x2(self.xx.conj(), self.yx.conj(), self.xy.conj(), self.yy.conj())

    def det(self) -> Cplx:
        return self.xx * self.yy - self.xy * self.yx

    def inverse(self) -> "Jones2x2":
        """Det/adjugate inverse (correct_vis.py:10-60)."""
        d = self.det()
        return Jones2x2(
            self.yy / d, (self.xy * -1.0) / d, (self.yx * -1.0) / d, self.xx / d
        )

    def sandwich(self, x: "Jones2x2") -> "Jones2x2":
        """A · X · Aᴴ-style application with self on the left — callers
        compose `j1.sandwich_pair(x, j2)` for the general A·X·Bᴴ."""
        return self @ x @ self.hermitian()

    def corr_columns(self, prefix: str) -> list:
        """Flatten to 8 real columns (<prefix>_{xx,xy,yx,yy}_{re,im})."""
        out = []
        for name, cell in (("xx", self.xx), ("xy", self.xy), ("yx", self.yx), ("yy", self.yy)):
            out.extend(cell.alias_pair(f"{prefix}_{name}"))
        return out


def jones_chain(left: Jones2x2, mid: Jones2x2, right: Jones2x2) -> Jones2x2:
    """A · X · Bᴴ — the per-(source,row,chan) coherency sandwich at the
    heart of predict_vis (predict.py:102-122)."""
    return left @ mid @ right.hermitian()
