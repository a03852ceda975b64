import numpy as np

from codex_africanus_spark.functions import linalg as kla
from codex_africanus_spark.operators import zernike as z_op


def test_zernike_matches_numpy(spark):
    """Spark pandas-UDF evaluation vs direct NumPy (backend-equivalence,
    SURVEY §5 item 5)."""
    coeffs = [1.0, 0.3, -0.2, 0.1]
    nolls = [1, 2, 3, 4]
    pts = [(i, -0.08 + 0.008 * i, 0.07 - 0.006 * i) for i in range(20)]
    df = spark.createDataFrame(pts, "id int, l double, m double")
    out = z_op.zernike_dde(df, coeffs, nolls).orderBy("id").toPandas()

    l = np.array([p[1] for p in pts]) / 0.1
    m = np.array([p[2] for p in pts]) / 0.1
    rho, theta = np.sqrt(l * l + m * m), np.arctan2(m, l)
    expected = np.zeros(len(pts))
    for c, j in zip(coeffs, nolls):
        n_, m_ = z_op.noll_to_nm(j)
        expected += c * z_op.zernike_eval(n_, m_, rho, theta)
    np.testing.assert_allclose(out.zernike_gain.to_numpy(), expected, rtol=1e-10)


def test_kron_matvec_matches_dense():
    rng = np.random.default_rng(11)
    As = [rng.standard_normal((3, 3)), rng.standard_normal((4, 4)), rng.standard_normal((2, 2))]
    x = rng.standard_normal(24)
    dense = np.kron(np.kron(As[0], As[1]), As[2])
    np.testing.assert_allclose(kla.kron_matvec(As, x), dense @ x, rtol=1e-10)


def test_kron_cholesky_property():
    rng = np.random.default_rng(5)
    mk = lambda n: (lambda a: a @ a.T + n * np.eye(n))(rng.standard_normal((n, n)))  # noqa: E731
    As = [mk(3), mk(2)]
    Ls = kla.kron_cholesky(As)
    dense = np.kron(As[0], As[1])
    Lk = np.kron(Ls[0], Ls[1])
    np.testing.assert_allclose(Lk @ Lk.T, dense, rtol=1e-9)
