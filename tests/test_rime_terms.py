"""RIME compiler term composition, including the pandas-UDF beam term."""

import numpy as np
from pyspark.sql import functions as F

from codex_africanus_spark.plans import rime as rp
from codex_africanus_spark.sources import tpch_ms
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow

# rows pair up across two RIME outputs only by the full key: (row_id,
# chan) repeats across antenna pairs, and tie order differs between plans
KEY = ("row_id", "antenna1", "antenna2", "chan")


def test_rime_beam_term_composes(spark, sf_dir):
    """'(Kpq, Bpq, Dpq)' = beam-gain-weighted predict: must equal the
    plain '(Kpq, Bpq)' result scaled per (source,chan) — verified by
    recomputing the beam factor independently."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 59 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    with_beam = rp.rime("(Kpq, Bpq, Dpq)", vis, src).orderBy(*KEY).toPandas()
    plain = rp.rime("(Kpq, Bpq)", vis, src).orderBy(*KEY).toPandas()
    assert len(with_beam) == len(plain) > 0
    # the beam taper is ≤ 1 on-grid, so |V_beam| ≤ ~|V_plain| overall
    assert (np.abs(with_beam.vis_re) <= np.abs(plain.vis_re) + 2.0).all()
    # and the two differ (the term actually did something)
    assert not np.allclose(with_beam.vis_re, plain.vis_re)


def test_rime_zernike_term_composes(spark, sf_dir):
    """'(Kpq, Bpq, Zp)' (ROADMAP #4): the pandas-UDF Zernike gain must
    scale each (source, row, chan) coherency by the independently
    computed Zernike sum at that source's (l, m)."""
    from codex_africanus_spark.operators.zernike import noll_to_nm, zernike_eval

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 59 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    with_z = rp.rime("(Kpq, Bpq, Zp)", vis, src).orderBy(*KEY).toPandas()
    plain = rp.rime("(Kpq, Bpq)", vis, src).orderBy(*KEY).toPandas()
    assert len(with_z) == len(plain) > 0
    assert not np.allclose(with_z.vis_re, plain.vis_re)
    # single-source sanity: gain factor recomputed driver-side
    one = src.orderBy("source_id").limit(1).collect()[0]
    term = rp.ZernikeTerm()
    lv, mv = one.l / term.extent, one.m / term.extent
    rho, theta = np.hypot(lv, mv), np.arctan2(mv, lv)
    gain = sum(
        c * zernike_eval(*noll_to_nm(j), np.array([rho]), np.array([theta]))[0]
        for c, j in zip(term.coeffs, term.noll)
    )
    vis1 = vis.filter(F.col("row_id") == int(plain.row_id.iloc[0]))
    src1 = src.orderBy("source_id").limit(1)
    z1 = rp.rime("(Kpq, Bpq, Zp)", vis1, src1).orderBy(*KEY).toPandas()
    p1 = rp.rime("(Kpq, Bpq)", vis1, src1).orderBy(*KEY).toPandas()
    np.testing.assert_allclose(z1.vis_re, p1.vis_re * gain, atol=1e-4)


def test_rime_shapelet_term_is_expression(spark, sf_dir):
    """The S term must stay JVM-side: no Python evaluation (BatchEvalPython
    / ArrowEvalPython) in the physical plan of '(Kpq, Bpq, Sp)'."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    plan = rp.rime("(Kpq, Bpq, Sp)", vis, src)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_rime2x2_matches_handwritten_full_corr(spark, sf_dir):
    """'(Kpq, Bpq, Gpq)' through the matrix compiler must equal the
    hand-written predict_full_corr bit-for-bit (same expressions, same
    quantization)."""
    from codex_africanus_spark.operators import predict as predict_op

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    gains = tpch_ms.gains_table(spark)
    a = (
        rp.rime2x2("(Kpq, Bpq, Gpq)", vis, src, gains)
        .orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    )
    b = (
        predict_op.predict_full_corr(vis, src, gains)
        .orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    )
    assert len(a) == len(b) > 0
    for c in ["vxx_re", "vxx_im", "vxy_re", "vxy_im", "vyx_re", "vyx_im", "vyy_re", "vyy_im"]:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_rime2x2_scalar_terms_compose(spark, sf_dir):
    """Adding the gaussian E term to the 2x2 spec scales coherencies by
    the same envelope on every correlation."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 97 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    with_e = rp.rime2x2("(Kpq, Bpq, Epq)", vis, src).orderBy("row_id", "chan").toPandas()
    plain = rp.rime2x2("(Kpq, Bpq)", vis, src).orderBy("row_id", "chan").toPandas()
    assert len(with_e) == len(plain) > 0
    assert not np.allclose(with_e.xx_re, plain.xx_re)


def test_rime2x2_full_feed_rotation_matches_handwritten(spark, sf_dir):
    """'(Kpq, Bpq, Rpq)' through the MatrixTerm chain must reproduce the
    hand-written R(pa1)·V·R(pa2)ᴴ sandwich bit-for-bit (same Jones2x2
    expressions, same join, same rounding)."""
    from codex_africanus_spark.functions.complex_algebra import Cplx
    from codex_africanus_spark.functions.feeds import (
        feed_rotation,
        parallactic_angles_test_backend as pa_of,
    )
    from codex_africanus_spark.functions.jones import Jones2x2

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    a = (
        rp.rime2x2("(Kpq, Bpq, Rpq)", vis, src)
        .orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    )
    model = rp.rime2x2("(Kpq, Bpq)", vis, src)
    keyed = model.join(
        vis.select("row_id", "antenna1", "antenna2", "chan", "time"),
        ["row_id", "antenna1", "antenna2", "chan"],
    )
    r1 = feed_rotation(pa_of(F.col("time"), F.col("antenna1")), "linear")
    r2 = feed_rotation(pa_of(F.col("time"), F.col("antenna2")), "linear")
    V = Jones2x2(
        Cplx(F.col("xx_re"), F.col("xx_im")), Cplx(F.col("xy_re"), F.col("xy_im")),
        Cplx(F.col("yx_re"), F.col("yx_im")), Cplx(F.col("yy_re"), F.col("yy_im")),
    )
    out = (r1 @ V) @ r2.hermitian()
    b = keyed.select(
        "row_id", "antenna1", "antenna2", "chan",
        *[F.round(getattr(out, k).re, 6).alias(f"v{k}_re")
          for k in ("xx", "xy", "yx", "yy")],
        *[F.round(getattr(out, k).im, 6).alias(f"v{k}_im")
          for k in ("xx", "xy", "yx", "yy")],
    ).orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    assert len(a) == len(b) > 0
    for c in ["vxx_re", "vxx_im", "vxy_re", "vxy_im", "vyx_re", "vyx_im", "vyy_re", "vyy_im"]:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_rime2x2_mixed_matrix_chain(spark, sf_dir):
    """'(Kpq, Bpq, Rpq, Gpq)': the general chain composes in spec order,
    V = R1·G1·M·G2ᴴ·R2ᴴ — verified against a driver-side NumPy
    recomputation of the sandwich from the compiled '(Kpq, Bpq)' model."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 97 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    gains = tpch_ms.gains_table(spark)
    got = (
        rp.rime2x2("(Kpq, Bpq, Rpq, Gpq)", vis, src, gains)
        .orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    )
    model = (
        rp.rime2x2("(Kpq, Bpq)", vis, src)
        .join(vis.select("row_id", "antenna1", "antenna2", "chan", "time"),
              ["row_id", "antenna1", "antenna2", "chan"])
        .orderBy("row_id", "antenna1", "antenna2", "chan").toPandas()
    )
    gp = gains.toPandas().set_index(["antenna", "chan"])
    assert len(got) == len(model) > 0

    def pa(t, ant):
        return np.sin(np.mod(t, 86400.0) / 86400.0 * 2 * np.pi) * (0.1 + ant / 100.0)

    M = np.empty((len(model), 2, 2), dtype=complex)
    M[:, 0, 0] = model.xx_re + 1j * model.xx_im
    M[:, 0, 1] = model.xy_re + 1j * model.xy_im
    M[:, 1, 0] = model.yx_re + 1j * model.yx_im
    M[:, 1, 1] = model.yy_re + 1j * model.yy_im
    out = np.empty_like(M)
    for i, row in enumerate(model.itertuples()):
        g1 = gp.loc[(row.antenna1, row.chan)]
        g2 = gp.loc[(row.antenna2, row.chan)]
        G1 = np.diag([g1.gain_re + 1j * g1.gain_im, g1.gain_y_re + 1j * g1.gain_y_im])
        G2 = np.diag([g2.gain_re + 1j * g2.gain_im, g2.gain_y_re + 1j * g2.gain_y_im])
        p1, p2 = pa(row.time, row.antenna1), pa(row.time, row.antenna2)
        R1 = np.array([[np.cos(p1), np.sin(p1)], [-np.sin(p1), np.cos(p1)]])
        R2 = np.array([[np.cos(p2), np.sin(p2)], [-np.sin(p2), np.cos(p2)]])
        out[i] = R1 @ G1 @ M[i] @ G2.conj().T @ R2.conj().T
    for k, (r, c) in {"xx": (0, 0), "xy": (0, 1), "yx": (1, 0), "yy": (1, 1)}.items():
        np.testing.assert_allclose(got[f"v{k}_re"], out[:, r, c].real, atol=2e-6)
        np.testing.assert_allclose(got[f"v{k}_im"], out[:, r, c].imag, atol=2e-6)


def test_rime_custom_term_registration(spark, sf_dir):
    """User extensibility: register a custom term and use it in a spec
    (reference custom_brightness_term example)."""
    from codex_africanus_spark.functions.complex_algebra import Cplx

    class HalfTerm(rp.Term):
        required_columns = ()

        def apply(self, z):
            return z * F.lit(0.5)

    rp.register_term("H", HalfTerm)
    try:
        vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 97 == 0)
        src = tpch_ms.source_table(spark, sf_dir)
        halved = rp.rime("(Kpq, Bpq, Hpq)", vis, src).orderBy(*KEY).toPandas()
        plain = rp.rime("(Kpq, Bpq)", vis, src).orderBy(*KEY).toPandas()
        # fixed-point grids: halving before quantization ≈ half after
        np.testing.assert_allclose(halved.vis_re, plain.vis_re * 0.5, atol=1e-4)
    finally:
        del rp.TERM_MAP["H"]


# ---------------------------------------------------------------------------
# Transformer API (argument-dependency resolution)
# ---------------------------------------------------------------------------

def test_lm_transformer_derives_missing_lmn(spark, sf_dir):
    """A radec-only source frame works with the K term: LMTransformer
    fills (l, m, n) before validation (reference transformers/lm.py)."""
    import numpy as np
    from codex_africanus_spark.plans import rime as rime_plan
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).limit(50)
    src = (
        tpch_ms.source_table(spark, sf_dir)
        .drop("l", "m", "n")
        .withColumn("ra", (F.col("source_id") - F.lit(12)) / F.lit(100.0))
        .withColumn("dec", ((F.col("source_id") % 7) - F.lit(20)) / F.lit(25.0))
        .withColumn("ra0", F.lit(0.0))
        .withColumn("dec0", F.lit(-17) / F.lit(25.0))
    )
    out = rime_plan.rime("(Kpq, Bpq)", vis, src)
    rows = out.collect()
    assert len(rows) > 0
    assert all(np.isfinite(r.vis_re) and np.isfinite(r.vis_im) for r in rows)


def test_missing_and_nonderivable_column_still_errors(spark, sf_dir):
    """Without radec inputs the transformer cannot run and validation
    fails with the schema error."""
    import pytest
    from codex_africanus_spark.plans import rime as rime_plan
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).limit(10)
    src = tpch_ms.source_table(spark, sf_dir).drop("l", "m", "n")
    with pytest.raises(ValueError, match="requires columns"):
        rime_plan.rime("(Kpq, Bpq)", vis, src)
