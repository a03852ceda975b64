"""Radio-interferometry queries: predict/averaging/BDA/calibration/
imaging/beams/flagging (SURVEY §2.3–2.4, §2.8–2.9). Mechanically moved
out of the former queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from codex_africanus_spark.functions.complex_algebra import Cplx
from codex_africanus_spark.functions.coordinates import radec_to_lmn
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
from codex_africanus_spark.functions.shapes import gaussian, gaussian_sql
from codex_africanus_spark.functions.spectral import spectral_model
from codex_africanus_spark.functions.stokes import stokes_to_corr
from codex_africanus_spark.operators import averaging as avg_op
from codex_africanus_spark.operators import predict as predict_op
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import load, local_frame
from codex_africanus_spark.sources.tables import scan_twin as tables_scan_twin
from codex_africanus_spark.operators import calibration as cal_op  # noqa: E402
from codex_africanus_spark.operators import spi as spi_op  # noqa: E402
from codex_africanus_spark.plans import rime as rime_plan  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402
from codex_africanus_spark.functions import feeds as feeds_fn  # noqa: E402
from codex_africanus_spark.functions.coordinates import lm_to_radec  # noqa: E402
from codex_africanus_spark.functions import gp as gp_fn  # noqa: E402
from codex_africanus_spark.sources import tigger as tigger_src  # noqa: E402
from codex_africanus_spark.sources import sink as sink_mod  # noqa: E402

from ._core import (  # noqa: F401
    _AVG_ORACLE,
    _PA_FIELD,
    _with_ms,
    dense_or_distinct_bins,
    register,
)

@register(
    "phase_delay_factor",
    _with_ms(
        """
        SELECT v.row_id, s.source_id,
               round(cos(CAST(ROUND(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency * 1000000000) AS BIGINT) / 1000000000.0), 6) + 0.0 AS phase_re,
               round(sin(CAST(ROUND(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency * 1000000000) AS BIGINT) / 1000000000.0), 6) + 0.0 AS phase_im
        FROM vis v, src s
        WHERE s.source_id < 3 AND v.row_id % 17 = 0
        ORDER BY v.row_id, s.source_id
        """
    ),
)
def phase_delay_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e^{-2πi(ul+vm+w(n-1))ν/c} per (source,row) (reference phase.py:12-63).

    r8 sf0.1-sweep hardening (the scale-dependent parity class the r7
    verdict's item 1 predicted): (a) θ quantizes to the 1e-9 grid
    BEFORE the trig so both engines evaluate sin/cos of the IDENTICAL
    double (the raw θ expression can diverge at the ULP level
    cross-engine); (b) + 0.0 normalizes IEEE −0.0 → 0.0 — at sf0.1 one
    sin(θ) rounded to −0.0 on one engine and 0.0 on the other, equal
    under == but distinct under the driver's bit-sensitive value hash
    (same fix as gridding.py:254)."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_id") < 3)
    j = vis.crossJoin(F.broadcast(src))
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
        "fourier",
    )
    thq = quantize(theta, 1e9) / F.lit(1e9)
    return j.select(
        "row_id",
        "source_id",
        (F.round(F.cos(thq), 6) + F.lit(0.0)).alias("phase_re"),
        (F.round(F.sin(thq), 6) + F.lit(0.0)).alias("phase_im"),
    ).orderBy("row_id", "source_id")


_REPHASE_DL, _REPHASE_DM, _REPHASE_DN = 0.01, -0.02, 0.9997499687421851


@register(
    "rephase_visibilities",
    _with_ms(
        f"""
        SELECT row_id,
               round(vis_re * cos(-2.0958450219516816e-08
                     * (u*{_REPHASE_DL!r} + v*({_REPHASE_DM!r}) + w*({_REPHASE_DN!r} - 1.0))
                     * frequency)
                   - vis_im * sin(-2.0958450219516816e-08
                     * (u*{_REPHASE_DL!r} + v*({_REPHASE_DM!r}) + w*({_REPHASE_DN!r} - 1.0))
                     * frequency), 6) AS re_new,
               round(vis_re * sin(-2.0958450219516816e-08
                     * (u*{_REPHASE_DL!r} + v*({_REPHASE_DM!r}) + w*({_REPHASE_DN!r} - 1.0))
                     * frequency)
                   + vis_im * cos(-2.0958450219516816e-08
                     * (u*{_REPHASE_DL!r} + v*({_REPHASE_DM!r}) + w*({_REPHASE_DN!r} - 1.0))
                     * frequency), 6) AS im_new
        FROM vis WHERE row_id % 17 = 0 ORDER BY row_id
        """
    ),
)
def rephase_visibilities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-centre shift (chgcentre analogue): rotate every visibility
    by the phase-delay factor of the (Δl, Δm) offset —
    V' = V·e^{-2πi(uΔl + vΔm + w(Δn−1))ν/c}. Pure projection, zero
    shuffle at any scale (the same hoisted path-term machinery as the
    RIME phase term, reference phase.py:12-63)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    theta = phase_delay_angle(
        phase_path(
            F.col("u"), F.col("v"), F.col("w"),
            F.lit(_REPHASE_DL), F.lit(_REPHASE_DM), F.lit(_REPHASE_DN),
        ),
        F.col("frequency"),
        "fourier",
    )
    return vis.select(
        "row_id",
        F.round(
            F.col("vis_re") * F.cos(theta) - F.col("vis_im") * F.sin(theta), 6
        ).alias("re_new"),
        F.round(
            F.col("vis_re") * F.sin(theta) + F.col("vis_im") * F.cos(theta), 6
        ).alias("im_new"),
    ).orderBy("row_id")


@register(
    "radec_to_lm_transform",
    """
    SELECT c_custkey,
           round(cos(((c_custkey*13) % 100) / 500.0) * sin((c_custkey % 100) / 500.0 - 0.1), 9) AS l,
           round(sin(((c_custkey*13) % 100) / 500.0) * cos(CAST(0.05 AS DOUBLE))
                 - cos(((c_custkey*13) % 100) / 500.0) * sin(CAST(0.05 AS DOUBLE)) * cos((c_custkey % 100) / 500.0 - 0.1), 9) AS m
    FROM customer ORDER BY c_custkey
    """,
)
def radec_to_lm_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """radec→lm tangent-plane projection (reference coordinates.py:29-120);
    ra/dec derived deterministically from customer keys."""
    c = load(spark, "customer", sf_dir)
    ra = (F.col("c_custkey") % 100) / F.lit(500.0)
    dec = ((F.col("c_custkey") * 13) % 100) / F.lit(500.0)
    l, m, _ = radec_to_lmn(ra, dec, F.lit(0.1), F.lit(0.05))
    return c.select(
        "c_custkey", F.round(l, 9).alias("l"), F.round(m, 9).alias("m")
    ).orderBy("c_custkey")


@register(
    "spectral_model_flux",
    _with_ms(
        """
        SELECT s.source_id, CAST(c.range AS INT) AS chan,
               round(s.flux_i * pow((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq, s.spi), 6) AS flux
        FROM src s, range(7) c
        ORDER BY s.source_id, chan
        """
    ),
)
def spectral_model_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law spectral model I·(ν/ν₀)^α (reference spec_model.py:102-180)."""
    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    freq = F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))
    return (
        src.crossJoin(chan)
        .select(
            "source_id",
            "chan",
            F.round(
                spectral_model(F.col("flux_i"), F.col("spi"), F.col("ref_freq"), freq), 6
            ).alias("flux"),
        )
        .orderBy("source_id", "chan")
    )


@register(
    "gaussian_shape_envelope",
    _with_ms(
        f"""
        SELECT v.row_id, s.source_id,
               round({gaussian_sql('v.u', 'v.v', 'v.frequency', 's.emaj', 's.emin', 's.position_angle')}, 9) AS envelope
        FROM vis v, src s
        WHERE s.source_type = 'GAUSSIAN' AND v.row_id % 29 = 0
        ORDER BY v.row_id, s.source_id
        """
    ),
)
def gaussian_shape_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian source envelope (reference gaussian_shape.py:12-90)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 29 == 0)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "GAUSSIAN")
    return (
        vis.crossJoin(F.broadcast(src))
        .select(
            "row_id",
            "source_id",
            F.round(
                gaussian(
                    F.col("u"), F.col("v"), F.col("frequency"),
                    F.col("emaj"), F.col("emin"), F.col("position_angle"),
                ),
                9,
            ).alias("envelope"),
        )
        .orderBy("row_id", "source_id")
    )


@register(
    "stokes_to_corr_conversion",
    _with_ms(
        """
        SELECT source_id,
               flux_i + flux_q AS xx_re, 0.0 AS xx_im,
               flux_u AS xy_re,  flux_v AS xy_im,
               flux_u AS yx_re, -flux_v AS yx_im,
               flux_i - flux_q AS yy_re, 0.0 AS yy_im
        FROM src ORDER BY source_id
        """
    ),
)
def stokes_to_corr_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[I,Q,U,V] → [XX,XY,YX,YY] linear-feed conversion (reference
    conversion.py:19-51 schema-compiled expressions)."""
    src = tpch_ms.source_table(spark, sf_dir)
    corrs = stokes_to_corr(
        F.col("flux_i"), F.col("flux_q"), F.col("flux_u"), F.col("flux_v"), "linear"
    )
    cols = [F.col("source_id")]
    for name, z in corrs.items():
        cols.extend([z.re.alias(f"{name.lower()}_re"), z.im.alias(f"{name.lower()}_im")])
    return src.select(*cols).orderBy("source_id")


_PREDICT_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
               * (CASE WHEN s.source_type = 'GAUSSIAN'
                       THEN {env}
                       ELSE 1.0 END) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_re,
           SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """.format(
        env=gaussian_sql("v.u", "v.v", "v.frequency", "s.emaj", "s.emin", "s.position_angle")
    )
)


@register("predict_vis_point_gauss", _PREDICT_ORACLE)
def predict_vis_point_gauss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full-catalogue predict (point + gaussian) with
    deterministic fixed-point source reduction (reference
    predict.py:566-649 + examples/predict.py:475-526)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    # no output sort: the correctness compare is order-insensitive, and a
    # global sort of a fact-sized result is exactly what dies at 100 TB
    return predict_op.predict_point_vis(vis, src)


_CORRUPT_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s WHERE s.source_type = 'POINT'
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_re,
             SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    )
    SELECT m.row_id, m.antenna1, m.antenna2, m.chan,
           round((g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_re
                 + (g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_im, 6) AS corrupted_re,
           round((g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_re
                 - (g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_im, 6) AS corrupted_im
    FROM model m
    JOIN gains g1 ON g1.antenna = m.antenna1 AND g1.chan = m.chan
    JOIN gains g2 ON g2.antenna = m.antenna2 AND g2.chan = m.chan
    ORDER BY m.row_id
    """
)


@register("corrupt_vis_apply_gains", _CORRUPT_ORACLE)
def corrupt_vis_apply_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G₁·V·G₂ᴴ gain application over predicted point-source model
    (reference apply_gains predict.py:623-649 / corrupt_vis
    calibration/utils/corrupt_vis.py:59-130)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    gains = tpch_ms.gains_table(spark)
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    return predict_op.apply_gains(model, gains)


@register(
    "uv_grid_histogram",
    _with_ms(
        """
        SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS u_cell,
               CAST(FLOOR(v / 10.0) AS BIGINT) AS v_cell,
               COUNT(*) AS nvis,
               CAST(SUM(CAST(ROUND(vis_re * weight * 100) AS BIGINT)) AS BIGINT) AS grid_re_q,
               CAST(SUM(CAST(ROUND(vis_im * weight * 100) AS BIGINT)) AS BIGINT) AS grid_im_q
        FROM vis WHERE NOT (flag OR flag_row)
        GROUP BY u_cell, v_cell
        ORDER BY u_cell, v_cell
        """
    ),
)
def uv_grid_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-weighted uv-grid accumulation: scatter-add of vis into
    cells → groupBy(cell).sum (reference perleypolyhedron gridder.py:13-170
    re-expressed as a 2-D histogram aggregation)."""
    # r13: aggregate over the unfanned twin — partial agg collapses the
    # scan to O(#cells) per task, so the fan_out round-robin exchange of
    # every raw row bought nothing (guide §2.4); at large scale the scan
    # splits natively and the two lineages are identical anyway
    vis = tables_scan_twin(tpch_ms.vis_table(spark, sf_dir)).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    return (
        vis.groupBy(
            F.floor(F.col("u") / 10.0).cast("long").alias("u_cell"),
            F.floor(F.col("v") / 10.0).cast("long").alias("v_cell"),
        )
        .agg(
            F.count(F.lit(1)).alias("nvis"),
            qsum(F.col("vis_re") * F.col("weight"), 100.0).alias("grid_re_q"),
            qsum(F.col("vis_im") * F.col("weight"), 100.0).alias("grid_im_q"),
        )
        .orderBy("u_cell", "v_cell")
    )


_CORRECT_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s WHERE s.source_type = 'POINT'
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_re,
             SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    ), corrupted AS (
      SELECT m.row_id, m.antenna1, m.antenna2, m.chan,
             round((g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_re
                   + (g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_im, 6) AS corrupted_re,
             round((g1.gain_re*m.model_im + g1.gain_im*m.model_re) * g2.gain_re
                   - (g1.gain_re*m.model_re - g1.gain_im*m.model_im) * g2.gain_im, 6) AS corrupted_im
      FROM model m
      JOIN gains g1 ON g1.antenna = m.antenna1 AND g1.chan = m.chan
      JOIN gains g2 ON g2.antenna = m.antenna2 AND g2.chan = m.chan
    )
    SELECT c.row_id, c.antenna1, c.antenna2, c.chan,
           round(((c.corrupted_re * (g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im)
                 + c.corrupted_im * (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im)))
                 / ((g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im) * (g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im)
                  + (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im) * (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im)), 6) AS corrected_re,
           round(((c.corrupted_im * (g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im)
                 - c.corrupted_re * (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im)))
                 / ((g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im) * (g1.gain_re*g2.gain_re + g1.gain_im*g2.gain_im)
                  + (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im) * (g1.gain_im*g2.gain_re - g1.gain_re*g2.gain_im)), 6) AS corrected_im
    FROM corrupted c
    JOIN gains g1 ON g1.antenna = c.antenna1 AND g1.chan = c.chan
    JOIN gains g2 ON g2.antenna = c.antenna2 AND g2.chan = c.chan
    ORDER BY c.row_id
    """
)


@register("correct_vis_inverse_gains", _CORRECT_ORACLE)
def correct_vis_inverse_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G₁⁻¹·V'·G₂⁻ᴴ — det-based inverse application undoing corrupt_vis
    (reference correct_vis.py:62-160)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    gains = tpch_ms.gains_table(spark)
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    corrupted = predict_op.apply_gains(model, gains)
    return cal_op.correct_vis(corrupted, gains)


@register("fit_delay_phase_slope", _with_ms(cal_op.DELAY_FIT_SQL))
def fit_delay_phase_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Jones delay diagnostic: least-squares phase-vs-channel slope
    per (baseline, time-bin), from five exact integer sums (closed-form
    regression over 1e-9-quantized phases) — two chained aggregations,
    no joins, O(#bins·#baselines) output at any scale."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.fit_delay_slope(vis).orderBy("tbin", "antenna1", "antenna2")


_RESIDUAL_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s WHERE s.source_type = 'POINT'
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_re,
             SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS model_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    ), data AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND(vis_re * 10) AS BIGINT)) / 10.0 AS d_re,
             SUM(CAST(ROUND(vis_im * 10) AS BIGINT)) / 10.0 AS d_im
      FROM vis GROUP BY row_id, antenna1, antenna2, chan
    )
    SELECT d.row_id, d.antenna1, d.antenna2, d.chan,
           d.d_re - m.model_re AS residual_re,
           d.d_im - m.model_im AS residual_im
    FROM data d JOIN model m
      ON d.row_id = m.row_id AND d.antenna1 = m.antenna1
     AND d.antenna2 = m.antenna2 AND d.chan = m.chan
    ORDER BY d.row_id
    """
)


@register("residual_vis_data_minus_model", _RESIDUAL_ORACLE)
def residual_vis_data_minus_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R = V_data − V_model (reference residual_vis.py:63-150)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    return cal_op.residual_vis(vis, model)


def _screen_oracle() -> str:
    from codex_africanus_spark.functions.gp import phase_screen_sql

    tn = "((time - 700000000.0) / 100000000.0)"
    p1 = phase_screen_sql(tn, "antenna1")
    p2 = phase_screen_sql(tn, "antenna2")
    return _with_ms(
        f"""
        , ph AS (
          SELECT row_id, antenna1, antenna2, chan, vis_re, vis_im,
                 {p1} AS ph1, {p2} AS ph2
          FROM vis WHERE row_id % 3 = 0
        )
        SELECT row_id, antenna1, antenna2, chan,
               round(vis_re * cos(ph1 - ph2) - vis_im * sin(ph1 - ph2), 6) AS scr_re,
               round(vis_re * sin(ph1 - ph2) + vis_im * cos(ph1 - ph2), 6) AS scr_im
        FROM ph ORDER BY row_id, antenna1, antenna2, chan
        """
    )


@register("gp_phase_screen_corrupt", _screen_oracle())
def gp_phase_screen_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end phase-screen corruption (reference examples
    apply_phase_screen_to_ms.py + generate_phase_only_gains.py): a
    smooth per-antenna GP-kernel screen φ(t, a) over fixed inducing
    points (deterministic coefficients in place of sampling) applied as
    phase-only gains — V' = V·e^{i(φ₁−φ₂)}. Pure codegen expressions;
    the screen evaluation is the exponential-squared kernel of
    functions/gp.py against 9 inducing points."""
    from codex_africanus_spark.functions.gp import phase_screen

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 3 == 0)
    tn = (F.col("time") - F.lit(700000000.0)) / F.lit(100000000.0)
    ph1 = phase_screen(tn, F.col("antenna1"))
    ph2 = phase_screen(tn, F.col("antenna2"))
    d = ph1 - ph2
    return vis.select(
        "row_id", "antenna1", "antenna2", "chan",
        F.round(F.col("vis_re") * F.cos(d) - F.col("vis_im") * F.sin(d), 6).alias("scr_re"),
        F.round(F.col("vis_re") * F.sin(d) + F.col("vis_im") * F.cos(d), 6).alias("scr_im"),
    )


_CC_ORACLE = _with_ms(
    f"""
    , tb AS (
      SELECT DISTINCT CAST(FLOOR(time / 604800.0) AS BIGINT) AS time_bin FROM vis
    ), dirs AS (
      SELECT * FROM src WHERE source_id % 6 = 1
    ), dg AS ({tpch_ms.dde_gains_sql("tb", "dirs")})
    , term AS (
      SELECT v.row_id, v.antenna1, v.antenna2,
             CAST(FLOOR(v.time / 604800.0) AS BIGINT) AS time_bin, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) / s.n AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta,
             g1.g_re AS g1_re, g1.g_im AS g1_im,
             g2.g_re AS g2_re, g2.g_im AS g2_im
      FROM vis v
      CROSS JOIN dirs s
      JOIN dg g1 ON g1.time_bin = CAST(FLOOR(v.time / 604800.0) AS BIGINT)
                AND g1.antenna = v.antenna1 AND g1.chan = v.chan
                AND g1.source_id = s.source_id
      JOIN dg g2 ON g2.time_bin = CAST(FLOOR(v.time / 604800.0) AS BIGINT)
                AND g2.antenna = v.antenna2 AND g2.chan = v.chan
                AND g2.source_id = s.source_id
    ), per AS (
      SELECT row_id, antenna1, antenna2, time_bin, chan,
             g1_re, g1_im, g2_re, g2_im,
             flux * cos(theta) AS sv_re,
             flux * sin(theta) AS sv_im
      FROM term
    )
    SELECT row_id, antenna1, antenna2, time_bin, chan,
           SUM(CAST(ROUND(((g1_re*sv_re - g1_im*sv_im) * g2_re
                           + (g1_re*sv_im + g1_im*sv_re) * g2_im) * 1000000) AS BIGINT))
             / 1000000.0 AS cc_re,
           SUM(CAST(ROUND(((g1_re*sv_im + g1_im*sv_re) * g2_re
                           - (g1_re*sv_re - g1_im*sv_im) * g2_im) * 1000000) AS BIGINT))
             / 1000000.0 AS cc_im
    FROM per
    GROUP BY row_id, antenna1, antenna2, time_bin, chan
    ORDER BY row_id, antenna1, antenna2, time_bin, chan
    """
)


@register("compute_and_corrupt_vis_dde", _CC_ORACLE)
def compute_and_corrupt_vis_dde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused model-eval + per-direction (DDE) corruption: the gain
    sandwich sits INSIDE the source sum, and the model carries the /n
    factor (reference compute_and_corrupt_vis.py:76-170, jones_mul
    :14-23). Gains are keyed (time_bin, antenna, chan, direction) — the
    calibration-grouped lookup of utils.py:45-70 — and broadcast."""
    base = tpch_ms.vis_table(spark, sf_dir)
    add_bin = lambda df: df.withColumn(  # noqa: E731
        "time_bin", F.floor(F.col("time") / F.lit(604800.0)).cast("long")
    )
    vis = add_bin(base)
    # r13: re-attach the unfanned twin (withColumn builds a new frame) so
    # the operator's (chan, frequency) hoist and the min/max bin scan
    # below both skip the fan_out exchange — row-set identical
    vis._scan_twin = add_bin(tables_scan_twin(base))
    dirs = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_id") % 6 == 1)
    # Bin RANGE collected to the driver (SURVEY §2.4 "statistics for
    # binning" pattern): min/max is a partial-aggregate scan — cheaper
    # than a distinct (no value shuffle) — and a dense-range gains table
    # joins identically (gains for absent bins simply never match).
    time_bins = dense_or_distinct_bins(tables_scan_twin(vis), "time_bin")
    gains = tpch_ms.dde_gains_table(spark, time_bins, dirs)
    return cal_op.compute_and_corrupt_vis(vis, dirs, gains)


_RIME_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
               * (CASE WHEN s.source_type = 'GAUSSIAN'
                       THEN {env}
                       ELSE 1.0 END) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """.format(
        env=gaussian_sql("v.u", "v.v", "v.frequency", "s.emaj", "s.emin", "s.position_angle")
    )
)


@register("rime_compiled_predict", _RIME_ORACLE)
def rime_compiled_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RIME spec compiler: '(Kpq, Bpq, Epq)' parsed → term registry →
    one fused select + deterministic aggregate (reference fused RIME,
    experimental/rime/fused/core.py:233-241)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    return rime_plan.rime(
        "(Kpq, Bpq, Epq): [I,Q,U,V] -> [XX,XY,YX,YY]", vis, src
    )


def _lmt_oracle() -> str:
    from codex_africanus_spark.functions.coordinates import radec_to_lmn_sql

    l, m, _ = radec_to_lmn_sql("ra", "dec", "0.0", "((-17) / 25.0)")
    return _with_ms(
        f"""
        , src2 AS (
          SELECT source_id, flux_i, spi, ref_freq,
                 round({l}, 9) AS l,
                 round({m}, 9) AS m,
                 sqrt(greatest(0.0, 1.0 - round({l}, 9) * round({l}, 9)
                                  - round({m}, 9) * round({m}, 9))) AS n
          FROM (
            SELECT source_id, flux_i, spi, ref_freq,
                   (source_id - 12) / 100.0       AS ra,
                   ((source_id % 7) - 20) / 25.0  AS dec
            FROM src
          )
        ), coh AS (
          SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
                 s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
                 -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
          FROM vis v, src2 s
        )
        SELECT row_id, antenna1, antenna2, chan,
               SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
               SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
        FROM coh
        GROUP BY row_id, antenna1, antenna2, chan
        ORDER BY row_id
        """
    )


@register("rime_lm_transformer_predict", _lmt_oracle())
def rime_lm_transformer_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transformer API (§2.11): the source frame carries only (ra, dec)
    plus the phase centre — the compiler's LMTransformer derives (l, m, n)
    at plan build before PhaseTerm validation, the argument-dependency
    resolution of the reference's transformers/lm.py:8-50 +
    fused/core.py:152-207, expressed as Catalyst projections."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = (
        tpch_ms.source_table(spark, sf_dir)
        .drop("l", "m", "n")
        .withColumn("ra", (F.col("source_id") - F.lit(12)) / F.lit(100.0))
        .withColumn("dec", ((F.col("source_id") % 7) - F.lit(20)) / F.lit(25.0))
        .withColumn("ra0", F.lit(0.0))
        .withColumn("dec0", F.lit(-17) / F.lit(25.0))
    )
    return rime_plan.rime("(Kpq, Bpq)", vis, src)


@register(
    "fit_spi_components",
    _with_ms(
        """
        SELECT source_id,
               round(flux_i, 6) AS i0_fit,
               round(spi, 6)    AS alpha_fit
        FROM src ORDER BY source_id
        """
    ),
)
def fit_spi_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component Gauss-Newton power-law fit (applyInPandas) recovering
    the catalogue's (I₀, α) exactly from noiseless per-channel fluxes —
    oracle is the catalogue itself (reference component_spi.py:55-120)."""
    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    samples = src.crossJoin(chan).select(
        "source_id",
        (F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))).alias("frequency"),
        (F.col("flux_i") * F.pow((F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))) / F.col("ref_freq"), F.col("spi"))).alias("flux"),
    )
    fitted = spi_op.fit_spi_components(samples)
    return fitted.select(
        "source_id",
        F.round(F.col("i0"), 6).alias("i0_fit"),
        F.round(F.col("alpha"), 6).alias("alpha_fit"),
    ).orderBy("source_id")


def _gn_oracle() -> str:
    """Recursive replay of the Gauss-Newton solve: the working row
    carries the 7 phases as a DOUBLE[] list (the anchor's literals MUST
    be cast — a recursive CTE fixes column types from the anchor, and
    bare 0.0 types the list DECIMAL(2,1), silently quantizing every
    iteration); each step recomputes the fixed-point-quantized gradient
    sums with the same complex-algebra expression structure as the
    solver, so the damped trajectory and the tol-based stop both match.
    NOTE: correlated subqueries inside the recursion silently return
    NULL when the referenced CTE is AS MATERIALIZED — keep them plain."""
    g1r, g1i = "cos(i.ph[c.antenna1+1])", "sin(i.ph[c.antenna1+1])"
    g2r, g2i = "cos(i.ph[c.antenna2+1])", "sin(i.ph[c.antenna2+1])"
    pr = f"(({g1r}*c.m_re - {g1i}*c.m_im) * {g2r} + ({g1r}*c.m_im + {g1i}*c.m_re) * {g2i})"
    pi = f"(({g1r}*c.m_im + {g1i}*c.m_re) * {g2r} - ({g1r}*c.m_re - {g1i}*c.m_im) * {g2i})"
    zp = f"({pr} * (c.vis_im - {pi}) - {pi} * (c.vis_re - {pr}))"
    zq = f"(- {zp})"
    jhr = (
        f"((COALESCE((SELECT SUM(CAST(ROUND({zp} * 1000000000) AS BIGINT))"
        f" FROM corrupted c WHERE c.antenna1 = j.antenna), 0)"
        f" + COALESCE((SELECT SUM(CAST(ROUND({zq} * 1000000000) AS BIGINT))"
        f" FROM corrupted c WHERE c.antenna2 = j.antenna), 0)) / 1000000000.0)"
    )
    delta = f"CASE WHEN j.jhj > 0 THEN (0.7e0 * {jhr}) / j.jhj ELSE 0.0 END"
    m2q = "SUM(CAST(ROUND((m_re*m_re + m_im*m_im) * 1000000000) AS BIGINT))"
    return f"""
    WITH RECURSIVE vis0 AS (
      SELECT * FROM ({tpch_ms.VIS_SQL}) WHERE chan = 0
    ),
    model AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT)) / 1000000.0 AS m_re,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT)) / 1000000.0 AS m_im
      FROM vis0 v, (SELECT * FROM ({tpch_ms.SOURCE_SQL}) WHERE source_type = 'POINT') s
      GROUP BY v.row_id, v.antenna1, v.antenna2, v.chan
    ),
    corrupted AS (
      SELECT row_id, antenna1, antenna2, chan, m_re, m_im,
             ((cos(antenna1 * 0.35e0)*m_re - sin(antenna1 * 0.35e0)*m_im) * cos(antenna2 * 0.35e0)
              + (cos(antenna1 * 0.35e0)*m_im + sin(antenna1 * 0.35e0)*m_re) * sin(antenna2 * 0.35e0)) AS vis_re,
             ((cos(antenna1 * 0.35e0)*m_im + sin(antenna1 * 0.35e0)*m_re) * cos(antenna2 * 0.35e0)
              - (cos(antenna1 * 0.35e0)*m_re - sin(antenna1 * 0.35e0)*m_im) * sin(antenna2 * 0.35e0)) AS vis_im
      FROM model
    ),
    jhj AS (
      SELECT a.range AS antenna,
             (COALESCE((SELECT {m2q} FROM corrupted c WHERE c.antenna1 = a.range), 0)
              + COALESCE((SELECT {m2q} FROM corrupted c WHERE c.antenna2 = a.range), 0)) / 1000000000.0 AS jhj
      FROM range(7) a
    ),
    it AS (
      SELECT 0 AS step,
             CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS ph,
             CAST(1.0 AS DOUBLE) AS md
      UNION ALL
      SELECT i.step + 1,
             (SELECT list(d.np ORDER BY d.antenna)
              FROM (SELECT j.antenna, i.ph[j.antenna + 1] + ({delta}) AS np FROM jhj j) d),
             (SELECT MAX(abs(d.dd))
              FROM (SELECT ({delta}) AS dd FROM jhj j) d)
      FROM it i WHERE i.step < 15 AND i.md >= 1e-8
    ),
    fin AS (SELECT ph FROM it ORDER BY step DESC LIMIT 1)
    SELECT CAST(a.range AS INT) AS antenna, CAST(0 AS INT) AS chan,
           round_even(fin.ph[CAST(a.range AS INT) + 1] - fin.ph[1], 4) AS phase_rel
    FROM range(7) a, fin
    ORDER BY antenna
    """


@register("gauss_newton_phase_solve", _gn_oracle())
def gauss_newton_phase_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-only Gauss-Newton calibration loop (reference
    phase_only.py:243-340): corrupt model vis with known phases
    φ_a = 0.35·a, solve them back, report re-referenced estimates —
    exactly oracled by a recursive replay of the damped fixed-point-
    gradient iterations (see _gn_oracle)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("chan") == 0)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    phase = F.col("antenna") * F.lit(0.35)
    gains = tpch_ms.gains_table(spark).filter(F.col("chan") == 0).select(
        "antenna", "chan", F.cos(phase).alias("gain_re"), F.sin(phase).alias("gain_im")
    )
    corrupted = predict_op.apply_gains(model, gains).select(
        "row_id", "antenna1", "antenna2", "chan",
        F.col("corrupted_re").alias("vis_re"), F.col("corrupted_im").alias("vis_im"),
    )
    history = cal_op.gauss_newton_phase_only(corrupted, model, n_ant=7, maxiter=15)
    phases = history[-1]["phases"]
    ref = {c: phases[(0, c)] for (a, c) in phases if a == 0}
    rows = [
        (a, c, round(p - ref[c], 4))
        for (a, c), p in sorted(phases.items())
    ]
    return local_frame(spark, rows, "antenna int, chan int, phase_rel double")


_FEED_ROT_ORACLE = _with_ms(
    """
    , pa AS (
      SELECT t.time, a.range AS antenna,
             sin(fmod(t.time, 86400.0) / 86400.0 * 6.283185307179586)
               * (0.1 + a.range / 100.0) AS pa
      FROM (SELECT DISTINCT time FROM vis) t, range(7) a
    )
    SELECT time, CAST(antenna AS INT) AS antenna,
           round(cos(pa), 9) + CAST(0 AS DOUBLE)  AS fr_xx_re,
           round(sin(pa), 9) + CAST(0 AS DOUBLE)  AS fr_xy_re,
           round(-sin(pa), 9) + CAST(0 AS DOUBLE) AS fr_yx_re,
           round(cos(pa), 9) + CAST(0 AS DOUBLE)  AS fr_yy_re
    FROM pa ORDER BY time, antenna
    """
)


@register("feed_rotation_jones", _FEED_ROT_ORACLE)
def feed_rotation_jones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-feed rotation Jones from parallactic angles ('test' ephemeris
    backend) over the distinct (time, antenna) table (reference
    feeds.py:14-115, parangles.py:21-68)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    pa = feeds_fn.parallactic_angle_table(vis, n_ant=7)
    jones = feeds_fn.feed_rotation(F.col("pa"), "linear")
    # + 0.0 normalizes IEEE -0.0 → 0.0 on both engines (bit-sensitive hash)
    return pa.select(
        "time",
        "antenna",
        (F.round(jones.xx.re, 9) + F.lit(0.0)).alias("fr_xx_re"),
        (F.round(jones.xy.re, 9) + F.lit(0.0)).alias("fr_xy_re"),
        (F.round(jones.yx.re, 9) + F.lit(0.0)).alias("fr_yx_re"),
        (F.round(jones.yy.re, 9) + F.lit(0.0)).alias("fr_yy_re"),
    ).orderBy("time", "antenna")


_TRANSFORM_ORACLE = _with_ms(
    """
    , pa AS (
      SELECT t.time,
             sin(fmod(t.time, 86400.0) / 86400.0 * 6.283185307179586)
               * (0.1 + 1 / 100.0) AS pa
      FROM (SELECT DISTINCT time FROM vis) t
    )
    SELECT p.time, s.source_id,
           round(s.l * cos(p.pa) - s.m * sin(p.pa), 9) AS l_rot,
           round(s.l * sin(p.pa) + s.m * cos(p.pa), 9) AS m_rot
    FROM pa p, src s
    ORDER BY p.time, s.source_id
    """
)


@register("transform_sources_rotation", _TRANSFORM_ORACLE)
def transform_sources_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(time, source) lm rotation by the antenna-1 parallactic angle
    (reference rime/transform.py:47-99)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    pa = feeds_fn.parallactic_angle_table(vis, n_ant=7).filter(F.col("antenna") == 1)
    src = tpch_ms.source_table(spark, sf_dir)
    j = pa.crossJoin(F.broadcast(src))
    lt, mt = feeds_fn.transform_sources(F.col("l"), F.col("m"), F.col("pa"))
    return j.select(
        "time",
        "source_id",
        F.round(lt, 9).alias("l_rot"),
        F.round(mt, 9).alias("m_rot"),
    ).orderBy("time", "source_id")


_PA_GEO_ORACLE = _with_ms(
    f"""
    , ant AS ({tpch_ms.ANTENNA_SQL})
    SELECT t.time, a.antenna,
           round({feeds_fn.parallactic_angle_geometric_sql(
               't.time', 'a.ant_x', 'a.ant_y', 'a.ant_z',
               f'CAST({_PA_FIELD[0]!r} AS DOUBLE)',
               f'CAST({_PA_FIELD[1]!r} AS DOUBLE)')}, 9) AS pa
    FROM (SELECT DISTINCT time FROM vis) t, ant a
    ORDER BY t.time, a.antenna
    """
)


@register("parallactic_angles_geometric", _PA_GEO_ORACLE)
def parallactic_angles_geometric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ephemeris-free parallactic angles over the distinct (time, antenna)
    grid: GMST-from-time + ITRF-derived lat/lon + the hour-angle PA
    formula — the production stand-in for the reference's casa/astropy
    backends (parangles.py:21-68, parangles_astropy.py:22-41; exact
    CIRS path available via feeds.astropy_parallactic_angle_table when
    astropy is installed). Distinct times are one partial-agg shuffle at
    n_utime cardinality; antennas broadcast."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    times = tables_scan_twin(vis).select("time").distinct()  # r13: skip fan_out exchange
    ants = tpch_ms.antenna_table(spark)
    pa = feeds_fn.parallactic_angle_geometric(
        F.col("time"), F.col("ant_x"), F.col("ant_y"), F.col("ant_z"),
        F.lit(_PA_FIELD[0]), F.lit(_PA_FIELD[1]),
    )
    return (
        times.crossJoin(F.broadcast(ants))
        .select("time", "antenna", F.round(pa, 9).alias("pa"))
        .orderBy("time", "antenna")
    )


_CORR_TO_STOKES_ORACLE = _with_ms(
    """
    SELECT source_id,
           ((flux_i + flux_q) + (flux_i - flux_q)) / 2.0 AS stokes_i,
           ((flux_i + flux_q) - (flux_i - flux_q)) / 2.0 AS stokes_q,
           (flux_u + flux_u) / 2.0 AS stokes_u,
           (flux_v - (-flux_v)) / 2.0 AS stokes_v
    FROM src ORDER BY source_id
    """
)


@register("corr_to_stokes_roundtrip", _CORR_TO_STOKES_ORACLE)
def corr_to_stokes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation → Stokes inverse conversion; round-trips the catalogue
    exactly (reference conversion.py bidirectional schema)."""
    from codex_africanus_spark.functions.stokes import corr_to_stokes

    src = tpch_ms.source_table(spark, sf_dir)
    corrs = stokes_to_corr(
        F.col("flux_i"), F.col("flux_q"), F.col("flux_u"), F.col("flux_v"), "linear"
    )
    back = corr_to_stokes(corrs["XX"], corrs["XY"], corrs["YX"], corrs["YY"], "linear")
    return src.select(
        "source_id",
        back["I"].alias("stokes_i"),
        back["Q"].alias("stokes_q"),
        back["U"].alias("stokes_u"),
        back["V"].alias("stokes_v"),
    ).orderBy("source_id")


_LM_RADEC_ORACLE = _with_ms(
    """
    SELECT source_id,
           round(0.1 + atan2(l, n * cos(0.05) - m * sin(0.05)), 9) AS ra,
           round(asin(m * cos(0.05) + n * sin(0.05)), 9) AS dec
    FROM src ORDER BY source_id
    """
)


@register("lm_to_radec_inverse", _LM_RADEC_ORACLE)
def lm_to_radec_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm → radec inverse transform (reference coordinates.py:122-199)."""
    src = tpch_ms.source_table(spark, sf_dir)
    ra, dec = lm_to_radec(F.col("l"), F.col("m"), F.lit(0.1), F.lit(0.05))
    return src.select(
        "source_id",
        F.round(ra, 9).alias("ra"),
        F.round(dec, 9).alias("dec"),
    ).orderBy("source_id")


_GP_ORACLE = _with_ms(
    """
    SELECT a.source_id AS i, b.source_id AS j,
           round(1.5 * 1.5 * exp(-((a.l - b.l) * (a.l - b.l)) / (2.0 * (CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)))), 9) AS k
    FROM src a, src b
    WHERE ABS(a.l - b.l) <= CAST(0.03 AS DOUBLE)
    ORDER BY i, j
    """
)


@register("gp_exponential_squared_kernel", _GP_ORACLE)
def gp_exponential_squared_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded exponential-squared GP covariance as a pruned pairwise
    cross join (reference gps/kernels.py:8-40)."""
    src = tpch_ms.source_table(spark, sf_dir).select(
        F.col("source_id").alias("id"), F.col("l").alias("x")
    )
    return gp_fn.covariance_frame(
        src, sigma_f=1.5, length=0.02, band=0.03
    ).orderBy("i", "j")


def _write_tigger_file(sf_dir: str) -> str:
    """Deterministic Tigger `.lsm.html` model derived from nation keys
    (every parsed value is recomputable by the SQL oracle). Exercises the
    format corners parse_sky_model handles: point vs gaussian typecodes,
    sources with and without a Spectrum (model-level freq0 fallback),
    quoted and bare attribute values."""
    import duckdb as _duckdb

    rows = _duckdb.sql(
        f"SELECT n_nationkey FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey"
    ).fetchall()
    path = _os.path.join(_tempfile.gettempdir(), "codex_africanus_tigger_model.lsm.html")
    with open(path, "w") as fh:
        fh.write("<HTML><BODY mdltype=SkyModel freq0=856000000.0>\n")
        for (n,) in rows:
            gau = n % 3 == 0
            ra = repr(0.3 + n * 0.01)
            dec = repr(-0.2 + n * 0.005)
            i = repr(float(1 + n % 5))
            q = repr((n % 3) * 0.1)
            u = repr((n % 4) * 0.05)
            parts = [
                f'<A mdltype=Source name="s{n}" typecode={"gau" if gau else "pnt"}>',
                f"<A mdltype=Position ra={ra} dec={dec}>",
                f"<A mdltype=Flux I={i} Q={q} U={u} V=0.0>",
            ]
            if n % 2 == 0:
                spi = repr(-0.7 + n * 0.01)
                parts.append(f"<A mdltype=Spectrum spi={spi} freq0=1400000000.0>")
            if gau:
                ex = repr((1 + n % 4) * 0.004)
                ey = repr((1 + n % 4) * 0.002)
                pa = repr(n * 0.1)
                parts.append(f"<A mdltype=Gaussian ex={ex} ey={ey} pa={pa}>")
            fh.write(" ".join(parts) + "\n")
        fh.write("</BODY></HTML>\n")
    return path


_TIGGER_SRC_SQL = """
      SELECT concat('s', n_nationkey) AS name,
             CASE WHEN n_nationkey % 3 = 0 THEN 'gau' ELSE 'pnt' END AS source_type,
             0.3e0 + n_nationkey * 0.01e0   AS ra,
             -0.2e0 + n_nationkey * 0.005e0 AS dec,
             CAST(1 + n_nationkey % 5 AS DOUBLE) AS flux_i,
             (n_nationkey % 3) * 0.1e0  AS flux_q,
             (n_nationkey % 4) * 0.05e0 AS flux_u,
             0.0e0 AS flux_v,
             CASE WHEN n_nationkey % 2 = 0
                  THEN -0.7e0 + n_nationkey * 0.01e0 ELSE 0.0e0 END AS spi,
             CASE WHEN n_nationkey % 2 = 0
                  THEN 1400000000.0e0 ELSE 856000000.0e0 END AS ref_freq,
             CASE WHEN n_nationkey % 3 = 0
                  THEN (1 + n_nationkey % 4) * 0.004e0 END AS emaj,
             CASE WHEN n_nationkey % 3 = 0
                  THEN (1 + n_nationkey % 4) * 0.002e0 END AS emin,
             CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey * 0.1e0 END AS position_angle
      FROM nation
"""


_TIGGER_READER_ORACLE = f"""
    WITH tsrc AS ({_TIGGER_SRC_SQL})
    SELECT name, source_type, round(ra, 9) AS ra, round(dec, 9) AS dec,
           flux_i, round(flux_q, 9) AS flux_q, round(flux_u, 9) AS flux_u,
           flux_v, round(spi, 9) AS spi, ref_freq,
           round(emaj, 9) AS emaj, round(emin, 9) AS emin,
           round(position_angle, 9) AS position_angle
    FROM tsrc ORDER BY name
"""


@register("tigger_model_reader", _TIGGER_READER_ORACLE)
def tigger_model_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tigger `.lsm.html` sky-model ingest: typecode routing, per-source
    Spectrum with model-level freq0 fallback, gaussian ex/ey/pa — regexp
    Column expressions only (reference examples/predict.py:248-347)."""
    path = _write_tigger_file(sf_dir)
    src = tigger_src.read_tigger_model(spark, path)
    return src.select(
        "name",
        "source_type",
        F.round(F.col("ra"), 9).alias("ra"),
        F.round(F.col("dec"), 9).alias("dec"),
        "flux_i",
        F.round(F.col("flux_q"), 9).alias("flux_q"),
        F.round(F.col("flux_u"), 9).alias("flux_u"),
        "flux_v",
        F.round(F.col("spi"), 9).alias("spi"),
        "ref_freq",
        F.round(F.col("emaj"), 9).alias("emaj"),
        F.round(F.col("emin"), 9).alias("emin"),
        F.round(F.col("position_angle"), 9).alias("position_angle"),
    ).orderBy("name")


_TIGGER_PREDICT_ORACLE = _with_ms(
    f"""
    , tsrc AS ({_TIGGER_SRC_SQL}),
    lmn AS (
      SELECT flux_i, spi, ref_freq, source_type, emaj, emin, position_angle,
             cos(dec) * sin(ra - 0.5) AS l,
             sin(dec) * cos(CAST(0.1 AS DOUBLE))
               - cos(dec) * sin(CAST(0.1 AS DOUBLE)) * cos(ra - 0.5) AS m,
             sqrt(greatest(0.0, 1.0
               - (cos(dec) * sin(ra - 0.5)) * (cos(dec) * sin(ra - 0.5))
               - (sin(dec) * cos(CAST(0.1 AS DOUBLE))
                  - cos(dec) * sin(CAST(0.1 AS DOUBLE)) * cos(ra - 0.5))
                 * (sin(dec) * cos(CAST(0.1 AS DOUBLE))
                    - cos(dec) * sin(CAST(0.1 AS DOUBLE)) * cos(ra - 0.5)))) AS n
      FROM tsrc
    )
    SELECT v.row_id, v.chan,
           SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
             * (CASE WHEN s.source_type = 'gau'
                     THEN {gaussian_sql('v.u', 'v.v', 'v.frequency', 's.emaj', 's.emin', 's.position_angle')}
                     ELSE 1.0 END)
             * cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency)
             * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
             * (CASE WHEN s.source_type = 'gau'
                     THEN {gaussian_sql('v.u', 'v.v', 'v.frequency', 's.emaj', 's.emin', 's.position_angle')}
                     ELSE 1.0 END)
             * sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency)
             * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM vis v, lmn s
    WHERE v.row_id % 23 = 0
    GROUP BY v.row_id, v.chan
    ORDER BY v.row_id, v.chan
    """
)


@register("tigger_model_predict", _TIGGER_PREDICT_ORACLE)
def tigger_model_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference CLI's Tigger workflow in one Catalyst plan: `.lsm.html`
    parse → radec_to_lmn → spectral scaling (flux·(ν/ν₀)^spi) → gaussian
    envelope for 'gau' sources → phase-delay cross join → deterministic
    source reduction (examples/predict.py:248-347 + 531-586)."""
    path = _write_tigger_file(sf_dir)
    src = tigger_src.read_tigger_model(spark, path)
    l, m, n = radec_to_lmn(F.col("ra"), F.col("dec"), F.lit(0.5), F.lit(0.1))
    lmn = src.select(
        "flux_i", "spi", "ref_freq", "source_type", "emaj", "emin",
        "position_angle", l.alias("l"), m.alias("m"), n.alias("n"),
    )
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 23 == 0)
    j = vis.crossJoin(F.broadcast(lmn))
    envelope = F.when(
        F.col("source_type") == "gau",
        gaussian(
            F.col("u"), F.col("v"), F.col("frequency"),
            F.col("emaj"), F.col("emin"), F.col("position_angle"),
        ),
    ).otherwise(F.lit(1.0))
    flux = F.col("flux_i") * F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi"))
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
        "fourier",
    )
    return (
        j.groupBy("row_id", "chan")
        .agg(
            (qsum(flux * envelope * F.cos(theta), 1e6) / F.lit(1e6)).alias("vis_re"),
            (qsum(flux * envelope * F.sin(theta), 1e6) / F.lit(1e6)).alias("vis_im"),
        )
        .orderBy("row_id", "chan")
    )


_FULL_CORR_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) + s.flux_q AS bxx,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) - s.flux_q AS byy,
             s.flux_u AS bu, s.flux_v AS bv,
             cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS ct,
             sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS st
      FROM vis v, src s
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND((bxx * ct) * 1000000) AS BIGINT)) / 1000000.0 AS xx_re,
             SUM(CAST(ROUND((bxx * st) * 1000000) AS BIGINT)) / 1000000.0 AS xx_im,
             SUM(CAST(ROUND((bu * ct - bv * st) * 1000000) AS BIGINT)) / 1000000.0 AS xy_re,
             SUM(CAST(ROUND((bu * st + bv * ct) * 1000000) AS BIGINT)) / 1000000.0 AS xy_im,
             SUM(CAST(ROUND((bu * ct - (-bv) * st) * 1000000) AS BIGINT)) / 1000000.0 AS yx_re,
             SUM(CAST(ROUND((bu * st + (-bv) * ct) * 1000000) AS BIGINT)) / 1000000.0 AS yx_im,
             SUM(CAST(ROUND((byy * ct) * 1000000) AS BIGINT)) / 1000000.0 AS yy_re,
             SUM(CAST(ROUND((byy * st) * 1000000) AS BIGINT)) / 1000000.0 AS yy_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    )
    SELECT m.row_id, m.antenna1, m.antenna2, m.chan,
           round((g1.gain_re*m.xx_re - g1.gain_im*m.xx_im) * g2.gain_re + (g1.gain_re*m.xx_im + g1.gain_im*m.xx_re) * g2.gain_im, 6) + 0.0 AS vxx_re,
           round((g1.gain_re*m.xx_im + g1.gain_im*m.xx_re) * g2.gain_re - (g1.gain_re*m.xx_re - g1.gain_im*m.xx_im) * g2.gain_im, 6) + 0.0 AS vxx_im,
           round((g1.gain_re*m.xy_re - g1.gain_im*m.xy_im) * g2.gain_y_re + (g1.gain_re*m.xy_im + g1.gain_im*m.xy_re) * g2.gain_y_im, 6) + 0.0 AS vxy_re,
           round((g1.gain_re*m.xy_im + g1.gain_im*m.xy_re) * g2.gain_y_re - (g1.gain_re*m.xy_re - g1.gain_im*m.xy_im) * g2.gain_y_im, 6) + 0.0 AS vxy_im,
           round((g1.gain_y_re*m.yx_re - g1.gain_y_im*m.yx_im) * g2.gain_re + (g1.gain_y_re*m.yx_im + g1.gain_y_im*m.yx_re) * g2.gain_im, 6) + 0.0 AS vyx_re,
           round((g1.gain_y_re*m.yx_im + g1.gain_y_im*m.yx_re) * g2.gain_re - (g1.gain_y_re*m.yx_re - g1.gain_y_im*m.yx_im) * g2.gain_im, 6) + 0.0 AS vyx_im,
           round((g1.gain_y_re*m.yy_re - g1.gain_y_im*m.yy_im) * g2.gain_y_re + (g1.gain_y_re*m.yy_im + g1.gain_y_im*m.yy_re) * g2.gain_y_im, 6) + 0.0 AS vyy_re,
           round((g1.gain_y_re*m.yy_im + g1.gain_y_im*m.yy_re) * g2.gain_y_re - (g1.gain_y_re*m.yy_re - g1.gain_y_im*m.yy_im) * g2.gain_y_im, 6) + 0.0 AS vyy_im
    FROM model m
    JOIN gains g1 ON g1.antenna = m.antenna1 AND g1.chan = m.chan
    JOIN gains g2 ON g2.antenna = m.antenna2 AND g2.chan = m.chan
    ORDER BY m.row_id
    """
)


@register("predict_full_corr_2x2", _FULL_CORR_ORACLE)
def predict_full_corr_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full four-correlation predict with brightness matrix and
    dual-polarization diagonal Jones sandwich (reference full/diag
    kernels, predict.py:56-190 + coherency conversion)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    gains = tpch_ms.gains_table(spark)
    return predict_op.predict_full_corr(vis, src, gains)


def _pa_sql(ant: str) -> str:
    """'test' ephemeris backend PA (feeds.parallactic_angles_test_backend)."""
    return (
        f"sin(fmod(v.time, 86400.0e0) / 86400.0e0 * 6.283185307179586e0)"
        f" * (0.1e0 + v.{ant} / 100.0e0)"
    )


_FEED_SANDWICH_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) + s.flux_q AS bxx,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) - s.flux_q AS byy,
             s.flux_u AS bu, s.flux_v AS bv,
             cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS ct,
             sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS st
      FROM vis v, src s
    ), model AS (
      SELECT row_id, antenna1, antenna2, chan,
             SUM(CAST(ROUND((bxx * ct) * 1000000) AS BIGINT)) / 1000000.0 AS xx_re,
             SUM(CAST(ROUND((bxx * st) * 1000000) AS BIGINT)) / 1000000.0 AS xx_im,
             SUM(CAST(ROUND((bu * ct - bv * st) * 1000000) AS BIGINT)) / 1000000.0 AS xy_re,
             SUM(CAST(ROUND((bu * st + bv * ct) * 1000000) AS BIGINT)) / 1000000.0 AS xy_im,
             SUM(CAST(ROUND((bu * ct - (-bv) * st) * 1000000) AS BIGINT)) / 1000000.0 AS yx_re,
             SUM(CAST(ROUND((bu * st + (-bv) * ct) * 1000000) AS BIGINT)) / 1000000.0 AS yx_im,
             SUM(CAST(ROUND((byy * ct) * 1000000) AS BIGINT)) / 1000000.0 AS yy_re,
             SUM(CAST(ROUND((byy * st) * 1000000) AS BIGINT)) / 1000000.0 AS yy_im
      FROM coh GROUP BY row_id, antenna1, antenna2, chan
    ), rot AS (
      SELECT m.*,
             cos({pa1}) AS c1, sin({pa1}) AS s1,
             cos({pa2}) AS c2, sin({pa2}) AS s2
      FROM model m JOIN vis v ON v.row_id = m.row_id AND v.antenna1 = m.antenna1
                            AND v.antenna2 = m.antenna2 AND v.chan = m.chan
    ), t AS (
      SELECT row_id, antenna1, antenna2, chan, c2, s2,
             c1*xx_re + s1*yx_re AS txx_re, c1*xx_im + s1*yx_im AS txx_im,
             c1*xy_re + s1*yy_re AS txy_re, c1*xy_im + s1*yy_im AS txy_im,
             (-s1)*xx_re + c1*yx_re AS tyx_re, (-s1)*xx_im + c1*yx_im AS tyx_im,
             (-s1)*xy_re + c1*yy_re AS tyy_re, (-s1)*xy_im + c1*yy_im AS tyy_im
      FROM rot
    )
    SELECT row_id, antenna1, antenna2, chan,
           round(txx_re*c2 + txy_re*s2, 6) + 0.0 AS rxx_re, round(txx_im*c2 + txy_im*s2, 6) + 0.0 AS rxx_im,
           round(txx_re*(-s2) + txy_re*c2, 6) + 0.0 AS rxy_re, round(txx_im*(-s2) + txy_im*c2, 6) + 0.0 AS rxy_im,
           round(tyx_re*c2 + tyy_re*s2, 6) + 0.0 AS ryx_re, round(tyx_im*c2 + tyy_im*s2, 6) + 0.0 AS ryx_im,
           round(tyx_re*(-s2) + tyy_re*c2, 6) + 0.0 AS ryy_re, round(tyx_im*(-s2) + tyy_im*c2, 6) + 0.0 AS ryy_im
    FROM t ORDER BY row_id
    """.format(pa1=_pa_sql("antenna1"), pa2=_pa_sql("antenna2"))
)


@register("feed_rotation_full_sandwich", _FEED_SANDWICH_ORACLE)
def feed_rotation_full_sandwich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL (non-diagonal) 2×2 Jones chain: R(pa1)·V·R(pa2)ᴴ with linear-
    feed rotation matrices on the predicted coherency — the third
    jones_mul specialization (reference predict.py:56-190 'full' case;
    the scalar and diagonal cases are rime/predict_full_corr). Composed
    entirely from the Jones2x2 expression bundle; exact-oracled."""
    from codex_africanus_spark.functions.complex_algebra import Cplx
    from codex_africanus_spark.functions.feeds import (
        feed_rotation,
        parallactic_angles_test_backend as pa_of,
    )
    from codex_africanus_spark.functions.jones import Jones2x2

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    model = rime_plan.rime2x2("(Kpq, Bpq)", vis, src)
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
    # + 0.0 normalizes IEEE -0.0 (sf1 sweep fork class; keeps the whole
    # sandwich family aligned with the normalized compiled paths)
    z = F.lit(0.0)
    return keyed.select(
        "row_id", "antenna1", "antenna2", "chan",
        (F.round(out.xx.re, 6) + z).alias("rxx_re"), (F.round(out.xx.im, 6) + z).alias("rxx_im"),
        (F.round(out.xy.re, 6) + z).alias("rxy_re"), (F.round(out.xy.im, 6) + z).alias("rxy_im"),
        (F.round(out.yx.re, 6) + z).alias("ryx_re"), (F.round(out.yx.im, 6) + z).alias("ryx_im"),
        (F.round(out.yy.re, 6) + z).alias("ryy_re"), (F.round(out.yy.im, 6) + z).alias("ryy_im"),
    )


@register("rime2x2_compiled_predict", _FULL_CORR_ORACLE)
def rime2x2_compiled_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matrix-valued RIME compiler: '(Kpq, Bpq, Gpq)' → full-corr
    predict with dual-pol gain sandwich (the reference's fused RIME is
    2×2 Jones-valued; scalar TERM_MAP plugins compose as the z factor).
    Bit-identical to the hand-written predict_full_corr plan, same
    oracle."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    gains = tpch_ms.gains_table(spark)
    return rime_plan.rime2x2(
        "(Kpq, Bpq, Gpq): [I,Q,U,V] -> [XX,XY,YX,YY]", vis, src, gains
    )


@register("rime2x2_feed_rotation_predict", _FEED_SANDWICH_ORACLE)
def rime2x2_feed_rotation_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compiler's first FULL (non-diagonal) sided matrix term:
    '(Kpq, Bpq, Rpq)' compiles the linear-feed rotation sandwich
    R(pa1)·V·R(pa2)ᴴ via the MatrixTerm chain (plans/rime.py) — same
    exact oracle as the hand-written feed_rotation_full_sandwich,
    which this plan reproduces bit-for-bit (tested)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    out = rime_plan.rime2x2("(Kpq, Bpq, Rpq)", vis, src)
    renames = {f"v{k}_{p}": f"r{k}_{p}"
               for k in ("xx", "xy", "yx", "yy") for p in ("re", "im")}
    return out.select(
        "row_id", "antenna1", "antenna2", "chan",
        *[F.col(old).alias(new) for old, new in renames.items()],
    )


@register(
    "stokes_convert_partial_schema",
    _with_ms(
        """
        SELECT source_id,
               flux_i + flux_q AS xx_re, 0.0 AS xx_im,
               0.0 AS xy_re, 0.0 AS xy_im,
               flux_i - flux_q AS yy_re, 0.0 AS yy_im
        FROM src ORDER BY source_id
        """
    ),
)
def stokes_convert_partial_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-compiled conversion with MISSING inputs: only (I, Q)
    provided, U/V default to zero (the reference's implicit-stokes
    defaulting, conversion.py:56-120)."""
    from codex_africanus_spark.functions.stokes import convert

    src = tpch_ms.source_table(spark, sf_dir)
    corrs = convert(
        {"I": F.col("flux_i"), "Q": F.col("flux_q")}, ["XX", "XY", "YY"], "linear"
    )
    cols = [F.col("source_id")]
    for name, z in corrs.items():
        cols += [z.re.alias(f"{name.lower()}_re"), z.im.alias(f"{name.lower()}_im")]
    return src.select(*cols).orderBy("source_id")


@register(
    "stokes_general_circular_subset",
    _with_ms(
        """
        SELECT source_id,
               flux_i + flux_v AS rr_re,
               flux_q AS rl_re,
               flux_u AS rl_im,
               ((flux_i + flux_v) + (flux_i - flux_v)) * CAST(0.5 AS DOUBLE) AS i_out,
               (flux_q + flux_q) * CAST(0.5 AS DOUBLE) AS q_out,
               (flux_u - (-flux_u)) * CAST(0.5 AS DOUBLE) AS u_out,
               ((flux_i + flux_v) - (flux_i - flux_v)) * CAST(0.5 AS DOUBLE) AS v_out
        FROM src ORDER BY source_id
        """
    ),
)
def stokes_general_circular_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully general conversion schema (reference conversion.py:56-205
    priority compiler): Stokes → circular correlations, then ALL FOUR
    Stokes recovered from the circular-only set — every output's
    first-listed candidate pair (the linear XX/YY · XY/YX forms) is
    unavailable, so the priority scheme must fall through to the
    circular combinations; corr inputs never substitute defaults."""
    from codex_africanus_spark.functions.stokes import convert_general

    src = tpch_ms.source_table(spark, sf_dir)
    fwd = convert_general(
        {
            "I": F.col("flux_i"), "Q": F.col("flux_q"),
            "U": F.col("flux_u"), "V": F.col("flux_v"),
        },
        ["RR", "RL", "LR", "LL"],
    )
    inv = convert_general(fwd, ["I", "Q", "U", "V"], implicit_stokes=False)
    return src.select(
        "source_id",
        fwd["RR"].re.alias("rr_re"),
        fwd["RL"].re.alias("rl_re"),
        fwd["RL"].im.alias("rl_im"),
        inv["I"].re.alias("i_out"),
        inv["Q"].re.alias("q_out"),
        inv["U"].re.alias("u_out"),
        inv["V"].re.alias("v_out"),
    ).orderBy("source_id")


_CASA_STOKES = [
    (1, "I"), (2, "Q"), (3, "U"), (4, "V"),
    (5, "RR"), (6, "RL"), (7, "LR"), (8, "LL"),
    (9, "XX"), (10, "XY"), (11, "YX"), (12, "YY"),
]


@register(
    "casa_stokes_id_mapping",
    _with_ms(
        """
        , ids AS (
          SELECT * FROM (VALUES (1,'I'),(2,'Q'),(3,'U'),(4,'V'),(5,'RR'),(6,'RL'),
                                (7,'LR'),(8,'LL'),(9,'XX'),(10,'XY'),(11,'YX'),(12,'YY'))
          AS t(corr_id, corr_name)
        )
        SELECT s.source_id, i.corr_id, i.corr_name
        FROM src s JOIN ids i ON i.corr_id = 9 + (s.source_id % 4)
        ORDER BY s.source_id
        """
    ),
)
def casa_stokes_id_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASA stokes/correlation enumeration as a broadcast dimension table
    (reference util/casa_types.py:4-53 STOKES_ID_MAP)."""
    ids = local_frame(spark, _CASA_STOKES, "corr_id int, corr_name string")
    src = tpch_ms.source_table(spark, sf_dir)
    return (
        src.join(F.broadcast(ids), ids.corr_id == 9 + (src.source_id % 4))
        .select("source_id", "corr_id", "corr_name")
        .orderBy("source_id")
    )


_RIME_FEED_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency
               - ({pa1} - {pa2}) AS theta
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """.format(pa1=_pa_sql("antenna1"), pa2=_pa_sql("antenna2"))
)


@register("rime_feed_rotation_predict", _RIME_FEED_ORACLE)
def rime_feed_rotation_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'(Kpq, Bpq, Lpq)': circular-feed rotation phase composed in the
    spec compiler — the first sided term (per-antenna PA sampling, the
    q side conjugated), still pure codegen and exactly oracled."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    return rime_plan.rime("(Kpq, Bpq, Lpq)", vis, src)


_SINK_ROUNDTRIP_ORACLE = f"""
  SELECT antenna1,
         COUNT(*) AS n_bins,
         CAST(SUM(nsamples) AS BIGINT) AS total_samples,
         CAST(SUM(CAST(ROUND(weight_sum * 100) AS BIGINT)) AS BIGINT) AS weight_c2
  FROM ({_AVG_ORACLE}) GROUP BY antenna1 ORDER BY antenna1
"""


@register("ms_sink_roundtrip", _SINK_ROUNDTRIP_ORACLE)
def ms_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS write-back sink round-trip (reference xds_to_table,
    examples/predict.py:576-586): the averaged main table is written to
    partitioned parquet via sources/sink.write_model_data (partitioned by
    antenna1, sorted within partitions by time_bin — the layout downstream
    scans prune on), read back through a fresh scan, and re-aggregated.
    Matching the direct-path oracle proves the sink preserves values,
    schema, and row multiplicity through the partition layout."""
    import tempfile

    vis = tpch_ms.vis_table(spark, sf_dir)
    avg = avg_op.time_and_channel(vis, 604800.0, 2)
    # fixed per-boot path, overwritten on every run — repeated bench/test
    # rounds reuse one directory instead of leaking mkdtemp trees
    path = f"{tempfile.gettempdir()}/cas_sink_roundtrip/avg"
    sink_mod.write_model_data(
        avg, path, partition_by=["antenna1"], sort_within=["time_bin"]
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("antenna1").cast("int").alias("antenna1"))
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("nsamples").alias("total_samples"),
            F.sum(F.round(F.col("weight_sum") * 100).cast("long")).alias("weight_c2"),
        )
        .orderBy("antenna1")
    )


_KTEC = 1.0e9  # dispersive scale so the differential phase is O(10) rad


class TecScreenTerm(rime_plan.Term):
    """T: ionospheric TEC dispersive phase, the classic *user* term the
    reference's plugin API exists for. Sided like feed rotation — each
    antenna sees its own TEC along its line of sight — and dispersive
    (phase ~ 1/frequency, where geometry's K term is ~ frequency). The
    deterministic closed-form screen stands in for a measured TEC table;
    swapping in real data is a broadcast join via prepare(). Defined
    OUTSIDE plans/rime.py and attached with register_term('T', ...) —
    the user-side extension flow."""

    required_columns = ("time", "antenna1", "antenna2", "frequency")

    @staticmethod
    def _tec(ant: F.Column, time: F.Column) -> F.Column:
        # the diurnal sin() OUTPUT quantizes to the 1e-9 grid: this is
        # the only libm stage UPSTREAM of the dispersive amplification
        # (phi ~ 1.2*tec), and a 1-ULP sin disagreement here grew to
        # ~1e-14 in the summed visibility — the sf1.0 sweep caught one
        # 6dp-boundary row. Quantized, both engines carry the identical
        # tec double; the residual cexp-stage ULP stays in the
        # held-green 1e-16 class (same as every other predict query).
        day = (time % F.lit(86400.0)) / F.lit(86400.0)
        s = F.sin(day * F.lit(6.283185307179586)) * F.lit(1e9)
        s_q = (
            s + F.when(s >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
        ).cast("long") / F.lit(1e9)
        return F.lit(10.0) + ant / F.lit(2.0) + F.lit(5.0) * s_q

    def apply(self, z):
        phi1 = F.lit(_KTEC) * self._tec(F.col("antenna1"), F.col("time")) / F.col("frequency")
        phi2 = F.lit(_KTEC) * self._tec(F.col("antenna2"), F.col("time")) / F.col("frequency")
        return z * rime_plan.cexp_i(-(phi1 - phi2))


rime_plan.register_term("T", TecScreenTerm)


def _tec_sql(ant: str) -> str:
    # mirrors TecScreenTerm._tec: diurnal sin output on the 1e-9 grid
    return (
        f"1.0e9 * (10.0e0 + v.{ant} / 2.0e0 + 5.0e0 * "
        f"(CAST(ROUND(sin(fmod(v.time, 86400.0e0) / 86400.0e0 "
        f"* 6.283185307179586e0) * 1.0e9) AS BIGINT) / 1.0e9))"
        f" / v.frequency"
    )


# The engine composes the term chain as COMPLEX PRODUCTS
# (z = e^{ia} -> *flux -> *e^{ib}), so the oracle replays cos(a)cos(b)
# - sin(a)sin(b) in the engine's exact operation order — collapsing to
# cos(a + b) is mathematically equal but numerically ~3 ULP apart, and
# the sf1.0 sweep caught two rows where that landed on a 1e-6 rounding
# boundary (r9 fork fix; same lesson as the BDA summation-order class).
_RIME_TEC_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0))
               * v.frequency AS a,
             - ({phi1} - {phi2}) AS b
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(((cos(a)*flux)*cos(b) - (sin(a)*flux)*sin(b))
               * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(((cos(a)*flux)*sin(b) + (sin(a)*flux)*cos(b))
               * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """.format(phi1=_tec_sql("antenna1"), phi2=_tec_sql("antenna2"))
)


@register("rime_tec_screen_predict", _RIME_TEC_ORACLE)
def rime_tec_screen_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'(Kpq, Bpq, Tpq)' with T a USER-registered ionospheric TEC term
    (register_term('T', TecScreenTerm) above): the spec compiler fuses
    the plugin's dispersive sided phase into the same single-select
    codegen pipeline as the built-ins — the extension point costs no
    plan structure. Exactly oracled like every built-in term."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    return rime_plan.rime("(Kpq, Bpq, Tpq)", vis, src)


@register("fringe_fit_delay_rate", _with_ms(cal_op.FRINGE_FIT_SQL()))
def fringe_fit_delay_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VLBI-style 2D fringe fit per baseline: phase vs (channel, time
    bin) solved by Cramer's rule over nine exact integer moments in
    decimal(38,0) — delay AND rate from one aggregate chain, no joins
    beyond a 1-row broadcast of the min time bin."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.fringe_fit_delay_rate(vis).orderBy("antenna1", "antenna2")


_SPI_WEIGHTED_ORACLE = _with_ms(
    """
    , samples AS (
      SELECT source_id, c.range AS chan,
             856000000.0 * (1 + c.range / 8.0) AS frequency,
             flux_i * pow((856000000.0 * (1 + c.range / 8.0)) / ref_freq, spi)
               AS flux,
             1.0 + (c.range % 3) AS weight
      FROM src, range(7) c
    )
    """
    + spi_op.SPI_WEIGHTED_SQL_BODY
)


@register("spi_weighted_binned_fit", _SPI_WEIGHTED_ORACLE)
def spi_weighted_binned_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SPI fit over channel-averaged bins — the averaging→fit
    composition (reference: time_and_channel averaging feeding
    component_spi): weighted 2-chan bin means with exact integer sums,
    then closed-form weighted log-log least squares per source. Pure
    Column expressions; no applyInPandas."""
    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    freq = F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))
    samples = src.crossJoin(chan).select(
        "source_id",
        "chan",
        freq.alias("frequency"),
        (F.col("flux_i") * F.pow(freq / F.col("ref_freq"), F.col("spi"))).alias("flux"),
        (F.lit(1.0) + (F.col("chan") % 3)).alias("weight"),
    )
    return spi_op.spi_weighted_binned_fit(samples).orderBy("source_id")


class ModelFluxTerm(rime_plan.Term):
    """USER-LAND custom term (defined outside the compiler module — that
    is the point): substitutes the standard Brightness term with model
    flux LOOKED UP from a per-(source, chan) table, the Spark analogue
    of the reference's ModelFlux example term whose dask_schema declares
    a ("source", "chan", "stokes") model_flux array
    (fused/examples/custom_brightness_term.py:17-52). The array becomes
    a broadcast dimension frame attached in prepare() — the same escape
    the BeamCubeTerm uses for gather-heavy samplers."""

    required_columns = ("source_id", "chan")

    def __init__(self, model_flux: DataFrame):
        self.model_flux = model_flux

    def prepare(self, df: DataFrame) -> DataFrame:
        return df.join(F.broadcast(self.model_flux), ["source_id", "chan"])

    def apply(self, z):
        return z * F.col("model_flux")


_CUSTOM_TERM_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             (1.0 + (s.source_id % 5)) * (1.0 + v.chan / 10.0) AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """
)


@register("rime_custom_term_predict", _CUSTOM_TERM_ORACLE)
def rime_custom_term_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's defining extensibility feature end-to-end: a
    user-defined Term substituted for a built-in via the per-spec
    override — ``RimeSpecification(rime_str, terms={"B": ModelFlux})``
    (fused/examples/custom_brightness_term.py:106) — without touching
    the global registry. The model-flux dimension is built lazily
    (sources × distinct chans, both tiny) and broadcast; the fused
    select + deterministic source reduction are unchanged, so the
    custom term inherits the compiled plan shape."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    model = (
        src.select("source_id")
        .crossJoin(tables_scan_twin(vis).select("chan").distinct())  # r13
        .select(
            "source_id",
            "chan",
            (
                (F.lit(1.0) + F.col("source_id") % 5)
                * (F.lit(1.0) + F.col("chan") / F.lit(10.0))
            ).alias("model_flux"),
        )
    )
    return rime_plan.rime(
        "(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]",
        vis,
        src,
        terms={"B": ModelFluxTerm(model)},
    ).orderBy("row_id")


class SpectralFluxNuTerm(rime_plan.Term):
    """USER-LAND term whose required column `flux_nu` is NOT on the
    joined frame — it exists to force transformer-based argument
    resolution (the term itself is a bare multiply)."""

    required_columns = ("flux_nu",)

    def apply(self, z):
        return z * F.col("flux_nu")


class SpectralFluxTransformer(rime_plan.Transformer):
    """USER-LAND transformer: derives the per-(source, chan) spectral
    flux `flux_nu` = flux_i·(ν/ν₀)^spi from columns already on the
    joined frame — the Spark analogue of the reference's per-spec
    transformer resolution (transformers/parangle.py declares OUTPUTS
    consumed by terms; fused/core.py:152-207 wires them in). Quantized
    to the 1e-9 grid (transcendental-output rule: JVM vs libm pow
    differ at 1 ULP)."""

    outputs = ("flux_nu",)
    inputs = ("flux_i", "spi", "ref_freq", "frequency")

    def transform(self, df: DataFrame) -> DataFrame:
        from codex_africanus_spark.functions.deterministic import quantize

        nu = quantize(
            F.col("flux_i")
            * F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi")),
            1e9,
        ) / F.lit(1e9)
        return df.withColumn("flux_nu", nu)


_CUSTOM_TRANSFORMER_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                        * 1000000000) AS BIGINT) / 1000000000.0 AS flux_nu,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s
      WHERE v.row_id % 3 = 0
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux_nu * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(flux_nu * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """
)


@register("rime_custom_transformer_predict", _CUSTOM_TRANSFORMER_ORACLE)
def rime_custom_transformer_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of the reference's extensibility story (r8): a
    user TRANSFORMER injected per-spec — `rime(spec, …,
    transformers=[…])` — resolves a custom term's missing argument
    column (`flux_nu`) from columns already on the joined frame, the
    analogue of ParallacticTransformer feeding feed_parangle to the
    beam/feed terms (reference transformers/parangle.py;
    fused/core.py:152-207). The derived column is a pure projection, so
    the compiled one-select + one-agg plan shape is unchanged; removing
    the transformer makes the same spec raise the schema-validation
    error (locked in tests/test_round8_fixes.py)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 3 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    return rime_plan.rime(
        "(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]",
        vis,
        src,
        terms={"B": SpectralFluxNuTerm},
        transformers=(SpectralFluxTransformer,),
    ).orderBy("row_id")


_OPACITY_TAU = 0.05   # zenith opacity (nepers)


_OPACITY_EL_MIN = 0.15  # elevation clamp before the secant (rad)


_AIRMASS_ORACLE = _with_ms(
    f"""
    , ant AS ({tpch_ms.ANTENNA_SQL})
    , t AS (SELECT DISTINCT time FROM vis)
    , fac AS (
      SELECT t.time, a.antenna,
             CAST(ROUND(exp(CAST({_OPACITY_TAU!r} AS DOUBLE) /
               sin(GREATEST(
                 CAST(ROUND({feeds_fn.elevation_angle_geometric_sql(
                     't.time', 'a.ant_x', 'a.ant_y', 'a.ant_z',
                     f'CAST({_PA_FIELD[0]!r} AS DOUBLE)',
                     f'CAST({_PA_FIELD[1]!r} AS DOUBLE)')} * 1000000000) AS BIGINT)
                   / 1000000000.0,
                 CAST({_OPACITY_EL_MIN!r} AS DOUBLE)))) * 1000000000) AS BIGINT)
               AS c_q
      FROM t, ant a
    )
    SELECT v.antenna1, v.antenna2, v.chan,
           COUNT(*) AS n_samples,
           SUM(CAST(ROUND(v.vis_re * (f1.c_q / 1000000000.0)
                          * (f2.c_q / 1000000000.0) * 1000000.0) AS BIGINT))
             / 1000000.0 AS corr_re_sum,
           SUM(CAST(ROUND(v.vis_im * (f1.c_q / 1000000000.0)
                          * (f2.c_q / 1000000000.0) * 1000000.0) AS BIGINT))
             / 1000000.0 AS corr_im_sum,
           CAST(SUM(f1.c_q + f2.c_q) AS BIGINT) AS factor_q_sum
    FROM vis v
    JOIN fac f1 ON f1.time = v.time AND f1.antenna = v.antenna1
    JOIN fac f2 ON f2.time = v.time AND f2.antenna = v.antenna2
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """
)


@register("airmass_opacity_correction", _AIRMASS_ORACLE)
def airmass_opacity_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atmospheric-opacity gain correction (Tsys/opacity calibration):
    per (time, antenna) the alt-az backend gives the elevation, the
    plane-parallel airmass is sec(z) = 1/sin(el) (elevation clamped),
    and each visibility is multiplied by e^{τ·X₁}·e^{τ·X₂} to undo the
    attenuation along both sightlines — then reduced to per-(baseline,
    chan) exact fixed-point sums. The correction factor table is
    n_utime × n_ant — epoch-scaled, so it joins WITHOUT a mandatory
    broadcast hint (AQE broadcasts when small). Factors quantize at 1e-9
    (transcendental-output rule) so both engines agg identical ints."""
    from codex_africanus_spark.functions.deterministic import qsum, quantize

    vis = tpch_ms.vis_table(spark, sf_dir)
    times = tables_scan_twin(vis).select("time").distinct()  # r13: skip fan_out exchange
    ants = tpch_ms.antenna_table(spark)
    el = feeds_fn.elevation_angle_geometric(
        F.col("time"), F.col("ant_x"), F.col("ant_y"), F.col("ant_z"),
        F.lit(_PA_FIELD[0]), F.lit(_PA_FIELD[1]),
    )
    el_c = F.greatest(
        quantize(el, 1e9) / F.lit(1e9), F.lit(_OPACITY_EL_MIN)
    )
    fac = times.crossJoin(F.broadcast(ants)).select(
        "time", "antenna",
        quantize(F.exp(F.lit(_OPACITY_TAU) / F.sin(el_c)), 1e9).alias("c_q"),
    )
    f1 = fac.select(
        "time", F.col("antenna").alias("antenna1"), F.col("c_q").alias("c1_q")
    )
    f2 = fac.select(
        "time", F.col("antenna").alias("antenna2"), F.col("c_q").alias("c2_q")
    )
    # no broadcast hints on f1/f2: the factor table is n_utime × n_ant —
    # unbounded in distinct epochs over a large archive (the same
    # corpus-proportional-broadcast class removed from
    # contamination_span_report / scan_time_average in r7). AQE
    # broadcasts it when the runtime size is actually small.
    j = (
        vis.join(f1, ["time", "antenna1"])
        .join(f2, ["time", "antenna2"])
    )
    corr = F.col("c1_q") / F.lit(1e9) * (F.col("c2_q") / F.lit(1e9))
    return (
        j.groupBy("antenna1", "antenna2", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (qsum(F.col("vis_re") * corr, 1e6) / F.lit(1e6)).alias("corr_re_sum"),
            (qsum(F.col("vis_im") * corr, 1e6) / F.lit(1e6)).alias("corr_im_sum"),
            F.sum(F.col("c1_q") + F.col("c2_q")).alias("factor_q_sum"),
        )
        .orderBy("antenna1", "antenna2", "chan")
    )


_DTERM_ORACLE = _with_ms(
    """
    , base AS (
      SELECT row_id, antenna1, antenna2, chan,
             vis_re AS xr, vis_im AS xi,
             0.8 * vis_re AS yr, -0.3 * vis_im AS yi,
             (antenna1 + 1) / 100.0 AS d1r, (antenna1 % 3) / 200.0 AS d1i,
             (antenna2 + 1) / 100.0 AS d2r, (antenna2 % 3) / 200.0 AS d2i
      FROM vis WHERE row_id % 5 = 0
    ),
    prod AS (
      SELECT *,
             d1r * d2r + d1i * d2i AS er, d1i * d2r - d1r * d2i AS ei,
             d1r * d2r + d1i * d2i AS fr, d1r * d2i - d1i * d2r AS fi
      FROM base
    )
    SELECT row_id, antenna1, antenna2, chan,
           CAST(ROUND((xr + (er * yr - ei * yi)) * 1000000) AS BIGINT) / 1000000.0 AS v_xx_re,
           CAST(ROUND((xi + (er * yi + ei * yr)) * 1000000) AS BIGINT) / 1000000.0 AS v_xx_im,
           CAST(ROUND((-(d2r * xr - d2i * xi) + (d1r * yr - d1i * yi)) * 1000000) AS BIGINT) / 1000000.0 AS v_xy_re,
           CAST(ROUND((-(d2r * xi + d2i * xr) + (d1r * yi + d1i * yr)) * 1000000) AS BIGINT) / 1000000.0 AS v_xy_im,
           CAST(ROUND((-(d1r * xr + d1i * xi) + (d2r * yr + d2i * yi)) * 1000000) AS BIGINT) / 1000000.0 AS v_yx_re,
           CAST(ROUND((-(d1r * xi - d1i * xr) + (d2r * yi - d2i * yr)) * 1000000) AS BIGINT) / 1000000.0 AS v_yx_im,
           CAST(ROUND(((fr * xr - fi * xi) + yr) * 1000000) AS BIGINT) / 1000000.0 AS v_yy_re,
           CAST(ROUND(((fr * xi + fi * xr) + yi) * 1000000) AS BIGINT) / 1000000.0 AS v_yy_im
    FROM prod
    ORDER BY row_id, antenna1, antenna2, chan
    """
)


@register("polarization_leakage_apply", _DTERM_ORACLE)
def polarization_leakage_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polarization leakage (D-term) corruption — the D Jones of the
    RIME: V' = D₁ · V · D₂ᴴ with D_p = [[1, d_p], [−d_p*, 1]] and a
    closed-form per-antenna complex leakage d_p (reference 2×2
    jones_mul chains, predict.py:56-190; D is the one standard Jones
    family the sandwich suite didn't yet cover). Pure projection —
    per-antenna leakages are row expressions, so the whole 2×2 algebra
    stays inside whole-stage codegen with zero joins.

    The symbolic expansion of D₁·diag(Vxx,Vyy)·D₂ᴴ is written out with
    the SAME association order as the SQL twin: the generic Jones2x2
    chain associates float sums differently, and a handful of exact-
    decimal leakage products land precisely on the 1e-6 rounding half-
    boundary where association order flips the rounded digit; outputs
    quantize on the exact 1e-6 integer grid (quantize(), not F.round —
    Spark ROUND goes through BigDecimal.valueOf's shortest-decimal
    re-read, which forks from DuckDB on boundary doubles)."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 5 == 0)
    xr, xi = F.col("vis_re"), F.col("vis_im")
    yr, yi = F.lit(0.8) * F.col("vis_re"), F.lit(-0.3) * F.col("vis_im")
    d1r = (F.col("antenna1") + 1) / F.lit(100.0)
    d1i = (F.col("antenna1") % 3) / F.lit(200.0)
    d2r = (F.col("antenna2") + 1) / F.lit(100.0)
    d2i = (F.col("antenna2") % 3) / F.lit(200.0)
    er, ei = d1r * d2r + d1i * d2i, d1i * d2r - d1r * d2i  # d1·conj(d2)
    fr, fi = d1r * d2r + d1i * d2i, d1r * d2i - d1i * d2r  # conj(d1)·d2
    cols = [
        (quantize(xr + (er * yr - ei * yi), 1e6) / F.lit(1e6)).alias("v_xx_re"),
        (quantize(xi + (er * yi + ei * yr), 1e6) / F.lit(1e6)).alias("v_xx_im"),
        (quantize(-(d2r * xr - d2i * xi) + (d1r * yr - d1i * yi), 1e6) / F.lit(1e6)).alias("v_xy_re"),
        (quantize(-(d2r * xi + d2i * xr) + (d1r * yi + d1i * yr), 1e6) / F.lit(1e6)).alias("v_xy_im"),
        (quantize(-(d1r * xr + d1i * xi) + (d2r * yr + d2i * yi), 1e6) / F.lit(1e6)).alias("v_yx_re"),
        (quantize(-(d1r * xi - d1i * xr) + (d2r * yi - d2i * yr), 1e6) / F.lit(1e6)).alias("v_yx_im"),
        (quantize((fr * xr - fi * xi) + yr, 1e6) / F.lit(1e6)).alias("v_yy_re"),
        (quantize((fr * xi + fi * xr) + yi, 1e6) / F.lit(1e6)).alias("v_yy_im"),
    ]
    return vis.select("row_id", "antenna1", "antenna2", "chan", *cols).orderBy(
        "row_id", "antenna1", "antenna2", "chan"
    )


@register("bandpass_curvature_fit", _with_ms(cal_op.BANDPASS_CURVE_SQL))
def bandpass_curvature_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline bandpass curvature: quadratic log-amplitude spectral
    fit ln|V| ≈ a + b·chan + c·chan² over exact integer spectra — the
    band slope/ripple diagnostic, Cramer 3×3 on decimal(38,0) moments
    (the fringe-fit machinery with x₂ = chan²)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.bandpass_curvature_fit(vis).orderBy("antenna1", "antenna2")


def _fringe_stop_oracle() -> str:
    fit_sub = "WITH " + cal_op.FRINGE_FIT_SQL().lstrip().removeprefix(",")
    return _with_ms(
        f"""
        , fit AS ({fit_sub}),
        lo2 AS (
          SELECT MIN(CAST(FLOOR(time / 2592000.0) AS BIGINT)) AS lo FROM vis
        ),
        samp AS (
          SELECT antenna1, antenna2,
                 CAST(chan AS BIGINT) AS x1,
                 CAST(FLOOR(time / 2592000.0) AS BIGINT) - lo2.lo AS x2,
                 CAST(ROUND(atan2(vis_im, vis_re) * 1000000000.0) AS BIGINT) AS y
          FROM vis, lo2
        ),
        resid AS (
          SELECT s.antenna1, s.antenna2,
                 CAST(s.y * 1000 - (f.phase0_prad + f.delay_prad_per_chan * s.x1
                                    + f.rate_prad_per_bin * s.x2) AS HUGEINT) AS r_p
          FROM samp s
          JOIN fit f ON f.antenna1 = s.antenna1 AND f.antenna2 = s.antenna2
        )
        SELECT antenna1, antenna2,
               CAST(COUNT(*) AS BIGINT) AS n_samp,
               CAST(ROUND(sqrt(CAST(SUM(r_p * r_p) AS DOUBLE) / COUNT(*))
                          / 1000.0 * 1000.0) AS BIGINT) AS resid_rms_nrad_q3
        FROM resid GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


@register("fringe_stop_apply", _fringe_stop_oracle())
def fringe_stop_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fringe stopping: APPLY the 2D fringe fit — subtract the fitted
    φ₀ + delay·chan + rate·tbin from every sample's phase and report
    the per-baseline residual RMS, the number the VLBI operator reads
    to decide whether the fringe solution converged. Residuals are
    exact picoradian integers (quantized phase ×1000 minus the
    1e-12-grid fit terms), squared-summed in decimal(38,0); only the
    final RMS takes a sqrt, quantized at 1e-3 nanorad. The fit table is
    baseline-cardinality and joins back BROADCAST — the fact table
    shuffles once (the residual collapse)."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = tpch_ms.vis_table(spark, sf_dir)
    fit = cal_op.fringe_fit_delay_rate(vis)
    lo = vis.agg(
        F.min(F.floor(F.col("time") / F.lit(2_592_000.0)).cast("long")).alias("lo")
    )
    samp = vis.crossJoin(F.broadcast(lo)).select(
        "antenna1", "antenna2",
        F.col("chan").cast("long").alias("x1"),
        (F.floor(F.col("time") / F.lit(2_592_000.0)).cast("long") - F.col("lo")).alias("x2"),
        quantize(F.atan2(F.col("vis_im"), F.col("vis_re")), 1e9).alias("y"),
    )
    r_p = (
        F.col("y") * 1000
        - (
            F.col("phase0_prad")
            + F.col("delay_prad_per_chan") * F.col("x1")
            + F.col("rate_prad_per_bin") * F.col("x2")
        )
    ).cast(dec)
    resid = samp.join(F.broadcast(fit), ["antenna1", "antenna2"]).select(
        "antenna1", "antenna2", r_p.alias("r_p")
    )
    g = resid.groupBy("antenna1", "antenna2").agg(
        F.count(F.lit(1)).alias("n_samp"),
        F.sum(F.col("r_p") * F.col("r_p")).alias("ss"),
    )
    return g.select(
        "antenna1", "antenna2", "n_samp",
        quantize(
            F.sqrt(F.col("ss").cast("double") / F.col("n_samp")) / F.lit(1000.0),
            1e3,
        ).alias("resid_rms_nrad_q3"),
    ).orderBy("antenna1", "antenna2")


_PEEL_ORACLE = _with_ms(
    """
    , bright AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY flux_i DESC, source_id) AS rk
        FROM src
      ) WHERE rk = 1
    ),
    resid AS (
      SELECT v.antenna1, v.antenna2, v.chan,
             CAST(ROUND((v.vis_re
               - s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * cos(-2.0958450219516816e-08
                       * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency))
               * 1000000.0) AS BIGINT) AS rr,
             CAST(ROUND((v.vis_im
               - s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * sin(-2.0958450219516816e-08
                       * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency))
               * 1000000.0) AS BIGINT) AS ri
      FROM vis v CROSS JOIN bright s
    )
    SELECT antenna1, antenna2, chan, COUNT(*) AS n_samples,
           SUM(rr) / 1000000.0 AS resid_re_sum,
           SUM(ri) / 1000000.0 AS resid_im_sum
    FROM resid GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """
)


@register("peel_brightest_source", _PEEL_ORACLE)
def peel_brightest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeling prep: subtract the BRIGHTEST catalogue source's model
    coherency from every visibility (the first step of direction-
    dependent peeling — remove the dominant source, then solve toward
    the next). The brightest source is a deterministic argmax
    (flux desc, id asc) riding a 1-row broadcast; the subtraction is a
    pure projection and the report collapses once per (baseline, chan)
    with exact fixed-point sums."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    bright = (
        src.withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.col("flux_i").desc(), F.col("source_id").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    j = vis.crossJoin(F.broadcast(bright))
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"),
                   F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
    )
    flux = spectral_model(
        F.col("flux_i"), F.col("spi"), F.col("ref_freq"), F.col("frequency")
    )
    return (
        j.groupBy("antenna1", "antenna2", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (qsum(F.col("vis_re") - flux * F.cos(theta), 1e6) / F.lit(1e6)).alias(
                "resid_re_sum"
            ),
            (qsum(F.col("vis_im") - flux * F.sin(theta), 1e6) / F.lit(1e6)).alias(
                "resid_im_sum"
            ),
        )
        .orderBy("antenna1", "antenna2", "chan")
    )


_RM_VALUE = 2.5       # rotation measure [rad/m^2]


_RM_LIGHT = 299792458.0


_FARADAY_ORACLE = _with_ms(
    f"""
    , base AS (
      SELECT row_id, antenna1, antenna2, chan,
             vis_re AS q, 0.6 * vis_im AS u,
             CAST(ROUND(2.0 * {_RM_VALUE!r}
               * ({_RM_LIGHT!r} / frequency) * ({_RM_LIGHT!r} / frequency)
               * 1000000000) AS BIGINT) / 1000000000.0 AS chi2
      FROM vis WHERE row_id % 11 = 0
    )
    SELECT row_id, antenna1, antenna2, chan,
           CAST(ROUND((q * cos(chi2) + u * sin(chi2)) * 1000000) AS BIGINT)
             / 1000000.0 AS q_corr,
           CAST(ROUND((u * cos(chi2) - q * sin(chi2)) * 1000000) AS BIGINT)
             / 1000000.0 AS u_corr
    FROM base ORDER BY row_id, antenna1, antenna2, chan
    """
)


@register("faraday_rm_correction", _FARADAY_ORACLE)
def faraday_rm_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ionospheric Faraday-rotation correction: the plasma rotates the
    linear-polarization angle by χ = RM·λ², so (Q, U) de-rotate by 2χ
    before any polarimetry — the polarimetric sibling of feed_rotation
    (reference feeds.py), with a frequency-dependent instead of
    parallactic angle. 2χ quantizes to the 1e-9 grid before the trig
    (transcendental-input rule); outputs land on the 1e-6 grid."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 11 == 0)
    lam = F.lit(_RM_LIGHT) / F.col("frequency")
    chi2 = quantize(F.lit(2.0 * _RM_VALUE) * lam * lam, 1e9) / F.lit(1e9)
    q, u = F.col("vis_re"), F.lit(0.6) * F.col("vis_im")
    return vis.select(
        "row_id", "antenna1", "antenna2", "chan",
        (quantize(q * F.cos(chi2) + u * F.sin(chi2), 1e6) / F.lit(1e6))
        .alias("q_corr"),
        (quantize(u * F.cos(chi2) - q * F.sin(chi2), 1e6) / F.lit(1e6))
        .alias("u_corr"),
    ).orderBy("row_id", "antenna1", "antenna2", "chan")


_GAIN_QA_ORACLE = _with_ms(
    """
    , amps AS (
      SELECT antenna, chan,
             CAST(ROUND(sqrt(gain_re*gain_re + gain_im*gain_im)
                        * 1000000000.0) AS BIGINT) AS amp_q9,
             CAST(ROUND(gain_re * 1000000000.0) AS BIGINT) AS re_q9,
             CAST(ROUND(gain_im * 1000000000.0) AS BIGINT) AS im_q9
      FROM gains
    ),
    steps AS (
      SELECT antenna, chan, amp_q9,
             re_q9 - LAG(re_q9) OVER w AS dre,
             im_q9 - LAG(im_q9) OVER w AS dim
      FROM amps WINDOW w AS (PARTITION BY antenna ORDER BY chan)
    ),
    per_ant AS (
      SELECT antenna,
             COUNT(*) AS n_chan,
             CAST(SUM(amp_q9) AS BIGINT) AS amp_sum_q9,
             CAST(COUNT(*) AS BIGINT) * CAST(SUM(chan * amp_q9) AS BIGINT)
               - CAST(SUM(chan) AS BIGINT) * CAST(SUM(amp_q9) AS BIGINT)
               AS slope_num,
             CAST(COUNT(*) AS BIGINT) * CAST(SUM(chan*chan) AS BIGINT)
               - CAST(SUM(chan) AS BIGINT) * CAST(SUM(chan) AS BIGINT)
               AS slope_den,
             MAX(dre*dre + dim*dim) AS max_step_q18
      FROM steps GROUP BY antenna
    ),
    tot AS (SELECT CAST(SUM(amp_q9) AS BIGINT) AS g_sum,
                   COUNT(*) AS g_n FROM amps)
    SELECT antenna, n_chan, amp_sum_q9,
           CAST(ROUND(CAST(slope_num AS DOUBLE) / slope_den) AS BIGINT)
             AS amp_slope_q9,
           max_step_q18,
           (tot.g_sum * per_ant.n_chan * 1000000)
             // (per_ant.amp_sum_q9 * tot.g_n) AS norm_factor_ppm
    FROM per_ant, tot
    ORDER BY antenna
    """
)


@register("gain_solution_qa_report", _GAIN_QA_ORACLE)
def gain_solution_qa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-solution QA (the plotms/fluxscale sanity pass): per
    antenna the bandpass amplitude sum, the amplitude-vs-channel slope
    (closed-form integer least squares on the 1e-9 amp grid), the
    largest adjacent-channel complex jump |g[c+1]-g[c]|^2 (exact q18
    integers — phase jumps WITHOUT atan2, which is not cross-engine
    stable), and the fluxscale-style normalization factor
    global-mean/antenna-mean in ppm. Gains are a dimension table: the
    whole report is broadcast-scale."""
    from codex_africanus_spark.functions.deterministic import quantize

    g = tpch_ms.gains_table(spark, sf_dir)
    amp_q9 = quantize(
        F.sqrt(F.col("gain_re") * F.col("gain_re") + F.col("gain_im") * F.col("gain_im")),
        1e9,
    )
    amps = g.select(
        "antenna",
        "chan",
        amp_q9.alias("amp_q9"),
        F.round(F.col("gain_re") * 1e9).cast("long").alias("re_q9"),
        F.round(F.col("gain_im") * 1e9).cast("long").alias("im_q9"),
    )
    w = W.partitionBy("antenna").orderBy("chan")
    steps = amps.select(
        "antenna",
        "chan",
        "amp_q9",
        (F.col("re_q9") - F.lag("re_q9").over(w)).alias("dre"),
        (F.col("im_q9") - F.lag("im_q9").over(w)).alias("dim"),
    )
    per_ant = steps.groupBy("antenna").agg(
        F.count(F.lit(1)).alias("n_chan"),
        F.sum("amp_q9").alias("amp_sum_q9"),
        (
            F.count(F.lit(1)) * F.sum(F.col("chan") * F.col("amp_q9"))
            - F.sum("chan") * F.sum("amp_q9")
        ).alias("slope_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("chan") * F.col("chan"))
            - F.sum("chan") * F.sum("chan")
        ).alias("slope_den"),
        F.max(F.col("dre") * F.col("dre") + F.col("dim") * F.col("dim")).alias(
            "max_step_q18"
        ),
    )
    tot = amps.agg(
        F.sum("amp_q9").alias("g_sum"), F.count(F.lit(1)).alias("g_n")
    )
    sl = F.col("slope_num").cast("double") / F.col("slope_den")
    return (
        per_ant.crossJoin(F.broadcast(tot))
        .select(
            "antenna",
            "n_chan",
            "amp_sum_q9",
            (sl + F.when(sl >= 0, F.lit(0.5)).otherwise(F.lit(-0.5)))
            .cast("long")
            .alias("amp_slope_q9"),
            "max_step_q18",
            F.expr(
                "(g_sum * n_chan * 1000000) DIV (amp_sum_q9 * g_n)"
            ).alias("norm_factor_ppm"),
        )
        .orderBy("antenna")
    )


# ---------------------------------------------------------------------------
# Round 9: multi-field observation predict with per-field antenna gains
# (r8 verdict item 7 candidate — the FIELD_ID-split RIME the reference's
# examples/predict.py runs per field, with a per-(field, antenna) G term)
# ---------------------------------------------------------------------------

# e^{i(phi_p - phi_q)} on the 8-point phase grid: Python-precomputed
# literals interpolated into BOTH engines (the delay-spectrum pattern —
# no trig fork possible; indices are exact integers).
_MF_COS8 = [
    1.0, 0.7071067811865476, 6.123233995736766e-17, -0.7071067811865475,
    -1.0, -0.7071067811865477, -1.8369701987210297e-16, 0.7071067811865474,
]
_MF_SIN8 = [
    0.0, 0.7071067811865475, 1.0, 0.7071067811865476,
    1.2246467991473532e-16, -0.7071067811865475, -1.0, -0.7071067811865477,
]
_MF_COS_CASE = (
    "CASE didx " + " ".join(f"WHEN {k} THEN {v!r}" for k, v in enumerate(_MF_COS8))
    + " END"
)
_MF_SIN_CASE = (
    "CASE didx " + " ".join(f"WHEN {k} THEN {v!r}" for k, v in enumerate(_MF_SIN8))
    + " END"
)

_MULTI_FIELD_ORACLE = _with_ms(
    f"""
    , fvis AS (
      SELECT *, CAST(CAST(FLOOR(time / 604800.0) AS BIGINT) % 3 AS INT)
                  AS field_id
      FROM vis WHERE row_id % 3 = 0
    ),
    fsrc AS (
      SELECT *, CAST(source_id % 3 AS INT) AS field_id
      FROM src WHERE source_type = 'POINT'
    ),
    model AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan, v.field_id,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m
                       + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT))
               / 1000000.0 AS model_re,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m
                       + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT))
               / 1000000.0 AS model_im
      FROM fvis v JOIN fsrc s USING (field_id)
      GROUP BY 1, 2, 3, 4, 5
    ),
    gained AS (
      SELECT row_id, antenna1, antenna2, chan, field_id, model_re, model_im,
             (1.0 + ((field_id * 5 + antenna1) % 5) / 8.0)
               * (1.0 + ((field_id * 5 + antenna2) % 5) / 8.0) AS amp,
             (((field_id * 3 + antenna1) % 8 - (field_id * 3 + antenna2) % 8)
               % 8 + 8) % 8 AS didx
      FROM model
    )
    SELECT row_id, antenna1, antenna2, chan, field_id,
           CAST(ROUND(amp * (model_re * ({_MF_COS_CASE})
                 - model_im * ({_MF_SIN_CASE})) * 1000000) AS BIGINT)
             / 1000000.0 AS vis_re,
           CAST(ROUND(amp * (model_re * ({_MF_SIN_CASE})
                 + model_im * ({_MF_COS_CASE})) * 1000000) AS BIGINT)
             / 1000000.0 AS vis_im
    FROM gained ORDER BY row_id, chan
    """
)


@register("multi_field_gain_predict", _MULTI_FIELD_ORACLE)
def multi_field_gain_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field observation predict with per-field antenna gains: the
    pointing schedule cycles weekly over 3 fields; each visibility row
    predicts ONLY its field's sources (the FIELD_ID-split RIME of the
    reference's examples/predict.py per-field flow), then a per-(field,
    antenna) complex G term applies as g_p·V·g_q* — amplitudes are exact
    rationals, phases live on an 8-point grid whose e^{iΔφ} values are
    Python-precomputed literals in BOTH engines.

    Plan: sources+fields broadcast (17 rows over 3 fields), ONE fact
    scan, one partial agg for the per-field source sum, gains applied as
    pure codegen expressions (no join — the gain is a function of the
    group keys). At 1000 fields only the broadcast dim grows; the fact
    table still shuffles zero times."""
    from codex_africanus_spark.functions.deterministic import quantize

    K = -2.0958450219516816e-08
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 3 == 0)
    fvis = vis.withColumn(
        "field_id",
        (F.floor(F.col("time") / F.lit(604800.0)).cast("long") % 3).cast("int"),
    )
    fsrc = (
        tpch_ms.source_table(spark, sf_dir)
        .filter(F.col("source_type") == "POINT")
        .withColumn("field_id", (F.col("source_id") % 3).cast("int"))
    )
    j = fvis.join(F.broadcast(fsrc), "field_id")
    theta = (
        F.lit(K)
        * (
            F.col("u") * F.col("l")
            + F.col("v") * F.col("m")
            + F.col("w") * (F.col("n") - F.lit(1.0))
        )
        * F.col("frequency")
    )
    flux = F.col("flux_i") * F.pow(
        F.col("frequency") / F.col("ref_freq"), F.col("spi")
    )
    model = j.groupBy("row_id", "antenna1", "antenna2", "chan", "field_id").agg(
        (qsum(flux * F.cos(theta), 1e6) / F.lit(1e6)).alias("model_re"),
        (qsum(flux * F.sin(theta), 1e6) / F.lit(1e6)).alias("model_im"),
    )
    amp = (
        F.lit(1.0) + ((F.col("field_id") * 5 + F.col("antenna1")) % 5) / F.lit(8.0)
    ) * (
        F.lit(1.0) + ((F.col("field_id") * 5 + F.col("antenna2")) % 5) / F.lit(8.0)
    )
    didx = F.pmod(
        (F.col("field_id") * 3 + F.col("antenna1")) % 8
        - (F.col("field_id") * 3 + F.col("antenna2")) % 8,
        F.lit(8),
    )
    cosd = F.element_at(
        F.array(*[F.lit(v) for v in _MF_COS8]), (didx + 1).cast("int")
    )
    sind = F.element_at(
        F.array(*[F.lit(v) for v in _MF_SIN8]), (didx + 1).cast("int")
    )
    return (
        model.select(
            "row_id", "antenna1", "antenna2", "chan", "field_id",
            (
                quantize(
                    amp * (F.col("model_re") * cosd - F.col("model_im") * sind),
                    1e6,
                ) / F.lit(1e6)
            ).alias("vis_re"),
            (
                quantize(
                    amp * (F.col("model_re") * sind + F.col("model_im") * cosd),
                    1e6,
                ) / F.lit(1e6)
            ).alias("vis_im"),
        )
        .orderBy("row_id", "chan")
    )


# ---------------------------------------------------------------------------
# Round 9: uvw recomputation from antenna positions (the reference
# consumes MS-provided UVW; computing it from the array layout + hour
# angle is the upstream step every synthesis pipeline owns —
# casacore's Muvw/MBaseline path). Deterministic ENU layout; trig
# outputs on the 1e-9 grid so both engines rotate identical doubles.
# ---------------------------------------------------------------------------

_UVW_DEC_S = -0.479425538604203   # sin(-0.5), Python literal
_UVW_DEC_C = 0.8775825618903728   # cos(-0.5), Python literal

_UVW_FROM_ANT_ORACLE = _with_ms(
    f"""
    , pts AS (
      SELECT DISTINCT time, antenna1, antenna2 FROM vis WHERE row_id % 17 = 0
    ),
    ha AS (
      SELECT time, antenna1, antenna2,
             CAST(ROUND(sin(fmod(time, 86400.0e0) / 86400.0e0
                 * 6.283185307179586e0 - 3.141592653589793e0) * 1.0e9)
               AS BIGINT) / 1.0e9 AS sh,
             CAST(ROUND(cos(fmod(time, 86400.0e0) / 86400.0e0
                 * 6.283185307179586e0 - 3.141592653589793e0) * 1.0e9)
               AS BIGINT) / 1.0e9 AS ch
      FROM pts
    ),
    bl AS (
      SELECT *,
             ((antenna2 * 37) % 101 - 50) * 10.0
               - ((antenna1 * 37) % 101 - 50) * 10.0 AS lx,
             ((antenna2 * 73) % 89 - 44) * 10.0
               - ((antenna1 * 73) % 89 - 44) * 10.0 AS ly,
             ((antenna2 * 11) % 13 - 6) * 2.0
               - ((antenna1 * 11) % 13 - 6) * 2.0 AS lz
      FROM ha
    )
    SELECT time, antenna1, antenna2,
           CAST(ROUND((sh * lx + ch * ly) * 1000000.0) AS BIGINT)
             / 1000000.0 AS u_m,
           CAST(ROUND((-({_UVW_DEC_S!r}) * ch * lx
                 + {_UVW_DEC_S!r} * sh * ly + {_UVW_DEC_C!r} * lz)
                 * 1000000.0) AS BIGINT) / 1000000.0 AS v_m,
           CAST(ROUND(({_UVW_DEC_C!r} * ch * lx
                 - {_UVW_DEC_C!r} * sh * ly + {_UVW_DEC_S!r} * lz)
                 * 1000000.0) AS BIGINT) / 1000000.0 AS w_m
    FROM bl ORDER BY time, antenna1, antenna2
    """
)


@register("uvw_from_antenna_positions", _UVW_FROM_ANT_ORACLE)
def uvw_from_antenna_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uvw recomputation from the array layout: deterministic ENU
    antenna positions, baseline vector L = pos(q) - pos(p), rotated
    into (u, v, w) by the hour angle + declination rotation (the
    casacore Muvw step upstream of everything the reference computes
    from MS-provided UVW). One distinct (time, baseline) grain scan;
    sin/cos of the hour angle quantize to the 1e-9 grid so both engines
    rotate IDENTICAL doubles; declination trig is a Python literal."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    pts = vis.select("time", "antenna1", "antenna2").distinct()
    ang = (
        (F.col("time") % F.lit(86400.0)) / F.lit(86400.0)
        * F.lit(6.283185307179586) - F.lit(3.141592653589793)
    )
    ha = pts.select(
        "time", "antenna1", "antenna2",
        (quantize(F.sin(ang), 1e9) / F.lit(1e9)).alias("sh"),
        (quantize(F.cos(ang), 1e9) / F.lit(1e9)).alias("ch"),
    )

    def enu(a):
        return (
            ((a * 37) % 101 - 50) * F.lit(10.0),
            ((a * 73) % 89 - 44) * F.lit(10.0),
            ((a * 11) % 13 - 6) * F.lit(2.0),
        )

    e1, n1, u1 = enu(F.col("antenna1"))
    e2, n2, u2 = enu(F.col("antenna2"))
    lx, ly, lz = e2 - e1, n2 - n1, u2 - u1
    ds, dc = F.lit(_UVW_DEC_S), F.lit(_UVW_DEC_C)
    bl = ha.select(
        "time", "antenna1", "antenna2", "sh", "ch",
        lx.alias("lx"), ly.alias("ly"), lz.alias("lz"),
    )
    return bl.select(
        "time", "antenna1", "antenna2",
        (quantize(F.col("sh") * F.col("lx") + F.col("ch") * F.col("ly"), 1e6)
         / F.lit(1e6)).alias("u_m"),
        (quantize(
            -ds * F.col("ch") * F.col("lx")
            + ds * F.col("sh") * F.col("ly") + dc * F.col("lz"), 1e6)
         / F.lit(1e6)).alias("v_m"),
        (quantize(
            dc * F.col("ch") * F.col("lx")
            - dc * F.col("sh") * F.col("ly") + ds * F.col("lz"), 1e6)
         / F.lit(1e6)).alias("w_m"),
    ).orderBy("time", "antenna1", "antenna2")


_CHI2_ORACLE = _with_ms(
    """
    , model AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m
                       + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT))
               / 1000000.0 AS mr,
             SUM(CAST(ROUND(s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
                 * sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m
                       + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT))
               / 1000000.0 AS mi
      FROM vis v, src s WHERE s.source_type = 'POINT'
      GROUP BY 1, 2, 3, 4
    ),
    cells AS (
      SELECT v.antenna1, v.antenna2,
             CAST(ROUND(v.weight * ((v.vis_re - m.mr) * (v.vis_re - m.mr)
                 + (v.vis_im - m.mi) * (v.vis_im - m.mi)) * 1000000.0)
               AS BIGINT) AS c_q
      FROM vis v
      JOIN model m ON m.row_id = v.row_id AND m.antenna1 = v.antenna1
                  AND m.antenna2 = v.antenna2 AND m.chan = v.chan
      WHERE NOT (v.flag OR v.flag_row)
    )
    SELECT antenna1, antenna2,
           COUNT(*) AS n_vis,
           CAST(SUM(c_q) AS BIGINT) AS chi2_q6,
           CAST(SUM(c_q) AS BIGINT) / (2000000.0 * COUNT(*))
             AS reduced_chi2
    FROM cells GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """
)


@register("vis_model_chi2_report", _CHI2_ORACLE)
def vis_model_chi2_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-baseline chi-squared of data against the point-source model:
    chi2 = sum w·|V - M|^2 over unflagged samples, with the reduced
    chi2 per complex degree of freedom — the calibration-quality gate
    an observatory reads after every solve (reference residual_vis +
    the weights semantics of calibration/utils). Model means are exact
    fixed-point rationals, per-sample contributions quantize at 1e-6
    before the order-free integer sum, and the reduction is an
    exact-integer ratio."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(
        F.col("source_type") == "POINT"
    )
    model = predict_op.predict_point_vis(vis, src, with_shape=False).select(
        "row_id", "antenna1", "antenna2", "chan",
        F.col("model_re").alias("mr"), F.col("model_im").alias("mi"),
    )
    j = vis.filter(~(F.col("flag") | F.col("flag_row"))).join(
        model, ["row_id", "antenna1", "antenna2", "chan"]
    )
    dr = F.col("vis_re") - F.col("mr")
    di = F.col("vis_im") - F.col("mi")
    c_q = quantize(F.col("weight") * (dr * dr + di * di), 1e6)
    return (
        j.select("antenna1", "antenna2", c_q.alias("c_q"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_vis"),
            F.sum("c_q").alias("chi2_q6"),
        )
        .select(
            "antenna1", "antenna2", "n_vis", "chi2_q6",
            (F.col("chi2_q6") / (F.lit(2000000.0) * F.col("n_vis")))
            .alias("reduced_chi2"),
        )
        .orderBy("antenna1", "antenna2")
    )
