"""Facet uvw transforms + gridding kernel library vs their mathematical
properties (reference policies/baseline_transform_policies.py and
kernels.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.functions.uvw import uvw_planar_w_approx, uvw_rotate
from codex_africanus_spark.operators import gridding_kernels as gk
from codex_africanus_spark.sources import tpch_ms


def _args():
    return (
        F.col("u"), F.col("v"), F.col("w"),
        F.lit(0.0), F.lit(-0.68), F.lit(0.02), F.lit(-0.66),
    )


def test_uvw_rotate_preserves_norm(spark, sf_dir):
    """The facet transform is a proper rotation: |uvw'| == |uvw|."""
    vis = tpch_ms.vis_table(spark, sf_dir).limit(200)
    ru, rv, rw = uvw_rotate(*_args())
    got = vis.select(
        (F.col("u") ** 2 + F.col("v") ** 2 + F.col("w") ** 2).alias("n0"),
        (ru**2 + rv**2 + rw**2).alias("n1"),
    ).collect()
    for r in got:
        assert r.n1 == pytest.approx(r.n0, rel=1e-12)


def test_uvw_rotate_identity_at_same_centre(spark, sf_dir):
    """Facet centre == phase centre ⇒ identity transform."""
    vis = tpch_ms.vis_table(spark, sf_dir).limit(50)
    ru, rv, rw = uvw_rotate(
        F.col("u"), F.col("v"), F.col("w"),
        F.lit(0.1), F.lit(-0.7), F.lit(0.1), F.lit(-0.7),
    )
    got = vis.select("u", "v", "w", ru.alias("ru"), rv.alias("rv"), rw.alias("rw")).collect()
    for r in got:
        assert r.ru == pytest.approx(r.u, abs=1e-12)
        assert r.rv == pytest.approx(r.v, abs=1e-12)
        assert r.rw == pytest.approx(r.w, abs=1e-12)


def test_planar_w_approx_matches_direction_cosines(spark, sf_dir):
    """u' = u − w·l0/n0, v' = v − w·m0/n0 with (l0,m0,n0) the facet
    centre's direction cosines (Kogan/Greisen planar approximation)."""
    import math

    vis = tpch_ms.vis_table(spark, sf_dir).limit(50)
    pu, pv = uvw_planar_w_approx(*_args())
    got = vis.select("u", "v", "w", pu.alias("pu"), pv.alias("pv")).collect()
    ra0, dec0, ra, dec = 0.0, -0.68, 0.02, -0.66
    l0 = math.cos(dec) * math.sin(ra - ra0)
    m0 = math.sin(dec) * math.cos(dec0) - math.cos(dec) * math.sin(dec0) * math.cos(ra - ra0)
    n0 = math.sin(dec) * math.sin(dec0) + math.cos(dec) * math.cos(dec0) * math.cos(ra - ra0)
    for r in got:
        assert r.pu == pytest.approx(r.u - r.w * l0 / n0, rel=1e-12, abs=1e-12)
        assert r.pv == pytest.approx(r.v - r.w * m0 / n0, rel=1e-12, abs=1e-12)


# ---------------------------------------------------------------------------
# Kernel library (driver-side)
# ---------------------------------------------------------------------------

def test_bessel_jn_known_values():
    got = gk.bessel_jn(0, np.array([0.0, 1.0, 2.404825557695773]))
    np.testing.assert_allclose(got, [1.0, 0.7651976865579666, 0.0], atol=1e-9)
    np.testing.assert_allclose(
        gk.bessel_jn(1, np.array([1.0])), [0.4400505857449335], atol=1e-9
    )


@pytest.mark.parametrize("maker,W,os", [
    (lambda: gk.sinc_kernel(3, 5), 3, 5),
    (lambda: gk.kaiser_bessel_sinc_kernel(3, b=4.2, oversample=5), 3, 5),
])
def test_kernels_normalized_peaked_at_origin(maker, W, os):
    """Unit sum; peak at the u=0 tap (the sampling grid is deliberately
    asymmetric — padded by one unit and oversampled from the left edge,
    kernels.py:16-33 — so mirror symmetry does NOT hold)."""
    k = maker()
    assert k.sum() == pytest.approx(1.0, abs=1e-12)
    assert np.argmax(k) == os * ((W + 2) // 2)


def test_uspace_even_support_rejected():
    with pytest.raises(ValueError, match="odd"):
        gk.uspace(4)


def test_taps_to_pairs_drops_padding():
    pairs = gk.taps_to_pairs(gk.sinc_kernel(3, oversample=1, a=0.5), 3)
    assert [d for d, _ in pairs] == [-1, 0, 1]
    assert sum(w for _, w in pairs) == pytest.approx(1.0, abs=1e-12)
