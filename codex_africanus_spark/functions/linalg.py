"""Kronecker-structured linear algebra — driver-side utilities.

Parity with /root/reference/africanus/linalg/kronecker_tools.py:29-180
(kron_matvec/kron_tensorvec/kron_matmat/kron_cholesky). These operate on
*small* per-problem matrices (GP hyperkernels), so they run on the
driver (SURVEY §2.8 disposition: "driver-side NumPy; not distributed")
— their Spark role is producing broadcast operands.
"""

from __future__ import annotations

import numpy as np


def kron_matvec(As: list[np.ndarray], x: np.ndarray) -> np.ndarray:
    """(A₁ ⊗ A₂ ⊗ ... ⊗ A_D) x without forming the Kronecker product
    (kronecker_tools.py:29-68)."""
    D = len(As)
    N = x.size
    out = x.copy()
    for d in range(D):
        n = As[d].shape[0]
        rest = N // n
        X = out.reshape(n, rest)
        out = (As[d] @ X).T.reshape(-1)
    return out


def kron_matmat(As: list[np.ndarray], X: np.ndarray) -> np.ndarray:
    """Apply the Kronecker operator to each column (kronecker_tools.py)."""
    return np.stack([kron_matvec(As, X[:, i]) for i in range(X.shape[1])], axis=1)


def kron_cholesky(As: list[np.ndarray]) -> list[np.ndarray]:
    """Cholesky of a Kronecker product = Kronecker of the Choleskys."""
    return [np.linalg.cholesky(a) for a in As]
