"""Natural cubic-spline fit/eval over ordered per-group samples.

Parity with /root/reference/africanus/averaging/splines.py:14-140
(fit_cubic_spline via tridiagonal solve, evaluate_spline). Per-antenna
(here per-key) time series are small and ordered → applyInPandas with a
NumPy tridiagonal solve inside the Arrow batch (SURVEY §2.5), one shuffle
on the group key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

def evaluate_spline_dense(samples: DataFrame, n_eval: int = 16, key: str = "key") -> DataFrame:
    """Fit per group, then evaluate on a dense uniform grid between the
    group's knots — the reference's evaluate_spline surface."""

    schema = "key long, x_eval double, y_eval double"

    def fit_eval(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("x").drop_duplicates("x").reset_index(drop=True)
        x = pdf["x"].to_numpy(_np.float64)
        y = pdf["y"].to_numpy(_np.float64)
        n = len(x)
        xe = _np.linspace(x[0], x[-1], n_eval)
        if n < 3:
            ye = _np.interp(xe, x, y)
        else:
            h = _np.diff(x)
            a = _np.zeros((n, n))
            rhs = _np.zeros(n)
            a[0, 0] = a[-1, -1] = 1.0
            for i in range(1, n - 1):
                a[i, i - 1] = h[i - 1]
                a[i, i] = 2.0 * (h[i - 1] + h[i])
                a[i, i + 1] = h[i]
                rhs[i] = 3.0 * ((y[i + 1] - y[i]) / h[i] - (y[i] - y[i - 1]) / h[i - 1])
            c = _np.linalg.solve(a, rhs)
            b = (_np.diff(y) / h) - h * (2.0 * c[:-1] + c[1:]) / 3.0
            d = _np.diff(c) / (3.0 * h)
            idx = _np.clip(_np.searchsorted(x, xe, side="right") - 1, 0, n - 2)
            dx = xe - x[idx]
            ye = y[idx] + b[idx] * dx + c[idx] * dx**2 + d[idx] * dx**3
        return _pd.DataFrame(
            {"key": pdf["key"].iloc[0], "x_eval": xe, "y_eval": ye}
        )

    return samples.groupBy(key).applyInPandas(fit_eval, schema)
