"""Imaging queries: gridding, FFT/DFT imaging, CLEAN, beams,
shapelets, facets, sky-model readers (SURVEY §2.4, §2.8). Mechanically
moved out of the former queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from codex_africanus_spark.functions.coordinates import radec_to_lmn
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import local_frame
from codex_africanus_spark.operators import calibration as cal_op  # noqa: E402
from codex_africanus_spark.operators import clean as clean_op  # noqa: E402
from codex_africanus_spark.operators import dft as dft_op  # noqa: E402
from codex_africanus_spark.operators import gridding as grid_op  # noqa: E402
from codex_africanus_spark.plans import rime as rime_plan  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402
from codex_africanus_spark.functions.spectral import wsclean_spectra  # noqa: E402
from codex_africanus_spark.operators import beam as beam_op  # noqa: E402
from codex_africanus_spark.sources import wsclean as wsclean_src  # noqa: E402
from codex_africanus_spark.functions.shapes import shapelet_1d, shapelet_1d_sql  # noqa: E402
from codex_africanus_spark.operators import zernike as zernike_op  # noqa: E402
from codex_africanus_spark.operators import asof as asof_op  # noqa: E402
from codex_africanus_spark.operators import fft_imaging as fft_op  # noqa: E402

from ._core import (  # noqa: F401
    _with_ms,
    register,
)

@register("dft_vis_to_im_adjoint", _with_ms(dft_op.VIS_TO_IM_SQL))
def dft_vis_to_im_adjoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjoint DFT: flag-gated Σ_rows Re(e^{iφ}·V) per (source, chan)
    (reference dft/kernels.py:73-170)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    return dft_op.vis_to_im(vis, src).orderBy("source_id", "chan")


@register("degrid_nearest_cell", _with_ms(grid_op.DEGRID_SQL))
def degrid_nearest_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degridding: gather dual of the histogram gridder (reference
    degridder.py:78-176) — broadcast grid joined back onto rows."""
    return grid_op.degrid(tpch_ms.vis_table(spark, sf_dir))


@register("grid_kernel_footprint", _with_ms(grid_op.CONV_GRID_SQL))
def grid_kernel_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convolution-kernel gridding: 3×3 separable triangle footprint per
    visibility (reference perleypolyhedron gridder) — a generated-column
    explode before the same single histogram shuffle."""
    return grid_op.grid_convolved(tpch_ms.vis_table(spark, sf_dir)).orderBy(
        "u_cell", "v_cell"
    )


@register("degrid_kernel_footprint", _with_ms(grid_op.DEGRID_CONV_SQL))
def degrid_kernel_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-footprint degridding — the gather dual: each row samples
    its 3×3 footprint from the broadcast convolved grid and recombines
    taps with the separable weights (reference degridder.py:78-176)."""
    return grid_op.degrid_convolved(tpch_ms.vis_table(spark, sf_dir))


def _sinc_taps() -> list[tuple[int, float]]:
    from codex_africanus_spark.operators import gridding_kernels as gk

    return gk.taps_to_pairs(gk.sinc_kernel(3, oversample=1, a=0.5), 3)


@register("grid_kernel_sinc", _with_ms(grid_op.conv_grid_sql(_sinc_taps())))
def grid_kernel_sinc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint gridding with a sinc anti-aliasing window from the
    kernel library (reference kernels.py:36-42 sinc; taps generated at
    integer sampling and dropped into the same literal-struct explode) —
    demonstrates the pluggable-window half of the perleypolyhedron
    gridder's policy system."""
    return grid_op.grid_convolved(
        tpch_ms.vis_table(spark, sf_dir), kernel=_sinc_taps()
    ).orderBy("u_cell", "v_cell")


def _kbsinc_taps() -> list[tuple[int, float]]:
    from codex_africanus_spark.operators import gridding_kernels as gk

    return gk.taps_to_pairs(
        gk.kaiser_bessel_sinc_kernel(3, b=2.1, oversample=1), 3
    )


@register("grid_kernel_kbsinc", _with_ms(grid_op.conv_grid_sql(_kbsinc_taps())))
def grid_kernel_kbsinc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint gridding with the modified Kaiser-Bessel-sinc
    anti-aliasing window (reference kernels.py:52-66 kbsinc; Bessel J_n
    via quadrature since scipy is absent). The driver-side tap values
    are shared verbatim between the Column literals and the SQL oracle,
    so the kernel swap costs nothing in the plan — same explode, same
    single histogram shuffle."""
    return grid_op.grid_convolved(
        tpch_ms.vis_table(spark, sf_dir), kernel=_kbsinc_taps()
    ).orderBy("u_cell", "v_cell")


def _facet_oracle() -> str:
    from codex_africanus_spark.functions.uvw import (
        uvw_planar_w_approx_sql,
        uvw_rotate_sql,
    )

    args = ("u", "v", "w", "0.0", "((-17) / 25.0)", "(1 / 50.0)", "((-33) / 50.0)")
    ru, rv, rw = uvw_rotate_sql(*args)
    pu, pv = uvw_planar_w_approx_sql(*args)
    return _with_ms(
        f"""
        SELECT row_id, antenna1, antenna2, chan,
               round({ru}, 6) AS rot_u, round({rv}, 6) AS rot_v,
               round({rw}, 6) AS rot_w,
               round({pu}, 6) AS wlin_u, round({pv}, 6) AS wlin_v
        FROM vis WHERE row_id % 7 = 0
        ORDER BY row_id, antenna1, antenna2, chan
        """
    )


@register("uvw_facet_transforms", _facet_oracle())
def uvw_facet_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet baseline-transform policies (reference perleypolyhedron
    policies/baseline_transform_policies.py): full tangent-plane uvw
    rotation and the Kogan/Greisen planar w-approximation, both as pure
    Column expressions whose facet-centre trig constant-folds."""
    from codex_africanus_spark.functions.uvw import uvw_planar_w_approx, uvw_rotate

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 7 == 0)
    args = (
        F.col("u"), F.col("v"), F.col("w"),
        F.lit(0.0), F.lit(-17) / F.lit(25.0),
        F.lit(1) / F.lit(50.0), F.lit(-33) / F.lit(50.0),
    )
    ru, rv, rw = uvw_rotate(*args)
    pu, pv = uvw_planar_w_approx(*args)
    return vis.select(
        "row_id", "antenna1", "antenna2", "chan",
        F.round(ru, 6).alias("rot_u"), F.round(rv, 6).alias("rot_v"),
        F.round(rw, 6).alias("rot_w"),
        F.round(pu, 6).alias("wlin_u"), F.round(pv, 6).alias("wlin_v"),
    ).orderBy("row_id", "antenna1", "antenna2", "chan")


_FACET_K = "-2.0958450219516816e-08"  # -2π/c, the shared phase constant


_FACETED_MOSAIC_ORACLE = _with_ms(
    f"""
    , fsrc AS (
      SELECT *, CAST(CASE WHEN l >= 0 THEN 2 ELSE 0 END
                   + CASE WHEN m >= 0 THEN 1 ELSE 0 END AS INT) AS facet_id
      FROM src
    ),
    centres AS (
      SELECT facet_id,
             CAST(SUM(CAST(ROUND(l * 1000000000) AS BIGINT)) AS BIGINT)
               / COUNT(*) / 1000000000.0 AS l_c,
             CAST(SUM(CAST(ROUND(m * 1000000000) AS BIGINT)) AS BIGINT)
               / COUNT(*) / 1000000000.0 AS m_c
      FROM fsrc GROUP BY facet_id
    ),
    cn AS (
      SELECT *, sqrt(1.0 - l_c*l_c - m_c*m_c) AS n_c FROM centres
    ),
    off_sum AS (
      -- uvw/frequency are GROUP KEYS, not MIN(): (row_id, baseline,
      -- chan) is not a unique grain in the testdata (duplicate
      -- orderkey/linenumber rows), and steering a merged group by one
      -- row's uvw breaks the faceting identity (r8 property-test find)
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan, s.facet_id,
             c.l_c, c.m_c, c.n_c,
             v.u AS u, v.v AS v_, v.w AS w,
             v.frequency AS frequency,
             SUM(CAST(ROUND(s.flux_i * cos({_FACET_K} * (v.u*(s.l - c.l_c)
                 + v.v*(s.m - c.m_c) + v.w*(s.n - c.n_c)) * v.frequency)
                 * 1000000) AS BIGINT)) / 1000000.0 AS sf_re,
             SUM(CAST(ROUND(s.flux_i * sin({_FACET_K} * (v.u*(s.l - c.l_c)
                 + v.v*(s.m - c.m_c) + v.w*(s.n - c.n_c)) * v.frequency)
                 * 1000000) AS BIGINT)) / 1000000.0 AS sf_im
      FROM vis v, fsrc s JOIN cn c USING (facet_id)
      WHERE v.row_id % 5 = 0
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12
    ),
    steered AS (
      SELECT row_id, antenna1, antenna2, chan,
             {_FACET_K} * (u*l_c + v_*m_c + w*(n_c - 1.0)) * frequency AS tc,
             sf_re, sf_im
      FROM off_sum
    )
    SELECT row_id, antenna1, antenna2, chan,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           SUM(CAST(ROUND((sf_re * cos(tc) - sf_im * sin(tc)) * 1000000)
               AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND((sf_re * sin(tc) + sf_im * cos(tc)) * 1000000)
               AS BIGINT)) / 1000000.0 AS vis_im
    FROM steered
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """
)


@register("faceted_mosaic_predict", _FACETED_MOSAIC_ORACLE)
def faceted_mosaic_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted mosaic predict (r7 verdict #7 candidate): the source
    catalogue partitions into 2×2 tangent-plane facets; each facet's
    RIME runs against the FACET CENTRE (offset coordinates l−l_c …,
    the exact faceting identity e^{iθ} = e^{iθ_c}·e^{iθ_off} used by
    wide-field degridders, reference perleypolyhedron facet policies +
    fused RIME), and the mosaic re-steers each facet sum by its centre
    phase before the final reduction. Both reductions (per-facet source
    sum, cross-facet sum) are fixed-point exact, so the two-level
    decomposition is bit-reproducible and exactly oracled. Plan shape:
    sources+centres broadcast (25 rows), ONE fact scan, two partial
    aggs — the per-facet plan inherits the compiled predict shape; at
    1000 facets only the broadcast dim grows."""
    from codex_africanus_spark.functions.deterministic import qsum

    K = float(_FACET_K)
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 5 == 0)
    src = tpch_ms.source_table(spark, sf_dir).withColumn(
        "facet_id",
        (
            F.when(F.col("l") >= 0, F.lit(2)).otherwise(F.lit(0))
            + F.when(F.col("m") >= 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("int"),
    )
    from codex_africanus_spark.functions.deterministic import quantize

    centres = src.groupBy("facet_id").agg(
        (F.sum(quantize(F.col("l"), 1e9)) / F.count(F.lit(1)) / F.lit(1e9))
        .alias("l_c"),
        (F.sum(quantize(F.col("m"), 1e9)) / F.count(F.lit(1)) / F.lit(1e9))
        .alias("m_c"),
    ).withColumn(
        "n_c",
        F.sqrt(
            F.lit(1.0) - F.col("l_c") * F.col("l_c") - F.col("m_c") * F.col("m_c")
        ),
    )
    fsrc = src.join(F.broadcast(centres), "facet_id")
    j = vis.crossJoin(F.broadcast(fsrc))
    th_off = (
        F.lit(K)
        * (
            F.col("u") * (F.col("l") - F.col("l_c"))
            + F.col("v") * (F.col("m") - F.col("m_c"))
            + F.col("w") * (F.col("n") - F.col("n_c"))
        )
        * F.col("frequency")
    )
    # uvw/frequency as GROUP KEYS, not MIN(): (row_id, baseline, chan)
    # is not unique in the testdata, and steering a merged group by one
    # row's uvw breaks the faceting identity (r8 property-test find —
    # test_faceted_mosaic_matches_direct_predict)
    off = j.groupBy(
        "row_id", "antenna1", "antenna2", "chan", "facet_id",
        "l_c", "m_c", "n_c", "u", "v", "w", "frequency",
    ).agg(
        (qsum(F.col("flux_i") * F.cos(th_off), 1e6) / F.lit(1e6)).alias("sf_re"),
        (qsum(F.col("flux_i") * F.sin(th_off), 1e6) / F.lit(1e6)).alias("sf_im"),
    )
    tc = (
        F.lit(K)
        * (
            F.col("u") * F.col("l_c")
            + F.col("v") * F.col("m_c")
            + F.col("w") * (F.col("n_c") - F.lit(1.0))
        )
        * F.col("frequency")
    )
    steered = off.select(
        "row_id", "antenna1", "antenna2", "chan",
        tc.alias("tc"), "sf_re", "sf_im",
    )
    return (
        steered.groupBy("row_id", "antenna1", "antenna2", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (qsum(
                F.col("sf_re") * F.cos("tc") - F.col("sf_im") * F.sin("tc"), 1e6
            ) / F.lit(1e6)).alias("vis_re"),
            (qsum(
                F.col("sf_re") * F.sin("tc") + F.col("sf_im") * F.cos("tc"), 1e6
            ) / F.lit(1e6)).alias("vis_im"),
        )
        .orderBy("row_id")
    )


@register("briggs_robust_weights", _with_ms(grid_op.BRIGGS_SQL()))
def briggs_robust_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Briggs/robust imaging weights — two-pass cell-density reweighting."""
    return grid_op.briggs_weights(tpch_ms.vis_table(spark, sf_dir))


@register("estimate_cell_size", _with_ms(grid_op.ESTIMATE_CELL_SQL))
def estimate_cell_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nyquist cell-size estimate from uv extent (reference gridding/util.py)."""
    return grid_op.estimate_cell_size(tpch_ms.vis_table(spark, sf_dir))


# CLEAN oracle: with a delta PSF, hitting a cell multiplies its residual
# by (1−γ) — computed as val − γ·val, mirrored with the same float op —
# and the decayed magnitudes of one cell are strictly decreasing, so the
# loop's peak sequence equals the GLOBAL descending-magnitude ranking of
# per-cell decay candidates (per-cell recursion, no cross-row aggregate
# inside the recursion). The image values are ratios of exact integer
# qsums, identical in both engines; ties break on canonical cell order,
# matching the operator's sorted argmax.
_CLEAN_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    grid AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS u_cell,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS v_cell,
             SUM(CAST(ROUND(vis_re * weight * 100) AS BIGINT)) AS grid_re_q,
             SUM(CAST(ROUND(weight * 100) AS BIGINT)) AS wsum_q
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT u_cell, v_cell, CAST(grid_re_q AS DOUBLE) / wsum_q AS v FROM grid
    ),
    decay AS (
      SELECT u_cell, v_cell, 0 AS k, v AS val FROM cells
      UNION ALL
      SELECT u_cell, v_cell, k + 1, val - 0.1e0 * val FROM decay WHERE k < 49
    ),
    thresh AS (SELECT 0.2e0 * MAX(abs(v)) AS t FROM cells),
    ranked AS (
      SELECT u_cell, v_cell, val,
             row_number() OVER (ORDER BY abs(val) DESC, u_cell, v_cell) AS rnk
      FROM decay
    )
    SELECT CAST(r.rnk - 1 AS INT) AS iteration, r.u_cell, r.v_cell,
           0.1e0 * r.val AS flux
    FROM ranked r, thresh t
    WHERE r.rnk <= 50 AND abs(r.val) > t.t
    ORDER BY iteration
"""


@register("hogbom_clean_components", _CLEAN_ORACLE)
def hogbom_clean_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hogbom CLEAN minor cycle over the collected uv-grid (driver loop,
    reference deconv/hogbom/clean.py:122-200) — exactly oracled: the
    delta-PSF decay structure turns the iterative peak sequence into a
    global candidate ranking (see _CLEAN_ORACLE)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return clean_op.hogbom_clean(spark, grid_op.grid_natural(vis))


# Restore oracle: residual after n picks = the decay table at k = n (the
# loop's resid -= γ·resid IS the decay recursion), restore terms are
# 1e-9-quantized Gaussian splats summed as BIGINTs, 2σ² = 4.5 (σ=1.5).
# Quantization is sign·floor(|x|·grid + 0.5) — the IDENTICAL float-op
# sequence the operator runs in numpy, so half-even/half-away rounding
# modes never enter (dyadic grid ratios DO land on exact .5 at 6 dp).
def _q_away_sql(expr: str, grid: str) -> str:
    return f"(sign({expr}) * floor(abs({expr}) * {grid} + 0.5))"


_RESTORE_ORACLE = f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    grid AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS u_cell,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS v_cell,
             SUM(CAST(ROUND(vis_re * weight * 100) AS BIGINT)) AS grid_re_q,
             SUM(CAST(ROUND(weight * 100) AS BIGINT)) AS wsum_q
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT u_cell, v_cell, CAST(grid_re_q AS DOUBLE) / wsum_q AS v FROM grid
    ),
    decay AS (
      SELECT u_cell, v_cell, 0 AS k, v AS val FROM cells
      UNION ALL
      SELECT u_cell, v_cell, k + 1, val - 0.1e0 * val FROM decay WHERE k < 50
    ),
    thresh AS (SELECT 0.2e0 * MAX(abs(v)) AS t FROM cells),
    ranked AS (
      SELECT u_cell, v_cell, val,
             row_number() OVER (ORDER BY abs(val) DESC, u_cell, v_cell) AS rnk
      FROM decay
    ),
    comps AS (
      SELECT r.u_cell AS cu, r.v_cell AS cv, 0.1e0 * r.val AS flux
      FROM ranked r, thresh t
      WHERE r.rnk <= 50 AND abs(r.val) > t.t
    ),
    picks AS (SELECT cu, cv, COUNT(*) AS n FROM comps GROUP BY cu, cv),
    residf AS (
      SELECT c.u_cell, c.v_cell,
             CAST(COALESCE(p.n, 0) AS INT) AS n_picks,
             d.val AS residual
      FROM cells c
      LEFT JOIN picks p ON p.cu = c.u_cell AND p.cv = c.v_cell
      JOIN decay d ON d.u_cell = c.u_cell AND d.v_cell = c.v_cell
                  AND d.k = COALESCE(p.n, 0)
    ),
    beam AS (
      SELECT r.u_cell, r.v_cell,
             CAST(SUM(CAST({_q_away_sql('''m.flux * exp(
               -((r.u_cell - m.cu) * (r.u_cell - m.cu)
                 + (r.v_cell - m.cv) * (r.v_cell - m.cv)) / 4.5e0)''', '1000000000')}
               AS BIGINT)) AS BIGINT) AS bq
      FROM residf r, comps m
      GROUP BY r.u_cell, r.v_cell
    )
    SELECT r.u_cell, r.v_cell, r.n_picks,
           {_q_away_sql('r.residual', '1000000')} / 1000000.0 AS residual,
           {_q_away_sql('(r.residual + COALESCE(b.bq, 0) / 1000000000.0)', '1000000')}
             / 1000000.0 AS restored
    FROM residf r
    LEFT JOIN beam b ON b.u_cell = r.u_cell AND b.v_cell = r.v_cell
    ORDER BY r.u_cell, r.v_cell
"""


def _restore_sweep_oracle(sigmas: tuple = (1.0, 1.5, 2.5)) -> str:
    """Beam-width-sweep oracle: the decay/comps/residf machinery of
    _RESTORE_ORACLE once, then one beam CTE + tagged SELECT per σ
    (2σ² spelled as an exact double literal), UNION ALL'd."""
    assert _RESTORE_ORACLE.count("beam AS (") == 1, "restore oracle reshaped"
    common = _RESTORE_ORACLE.split("beam AS (")[0].rstrip().rstrip(",")
    beams, selects = [], []
    for i, s in enumerate(sigmas):
        # CAST(repr AS DOUBLE): survives scientific-notation reprs of
        # small sigmas, unlike a concatenated e0 suffix
        denom = f"CAST({2.0 * s * s!r} AS DOUBLE)"
        beams.append(
            f"""beam{i} AS (
      SELECT r.u_cell, r.v_cell,
             CAST(SUM(CAST({_q_away_sql(f'''m.flux * exp(
               -((r.u_cell - m.cu) * (r.u_cell - m.cu)
                 + (r.v_cell - m.cv) * (r.v_cell - m.cv)) / {denom})''', '1000000000')}
               AS BIGINT)) AS BIGINT) AS bq
      FROM residf r, comps m
      GROUP BY r.u_cell, r.v_cell
    )"""
        )
        selects.append(
            f"""SELECT CAST({s!r} AS DOUBLE) AS sigma,
           r.u_cell, r.v_cell, r.n_picks,
           {_q_away_sql('r.residual', '1000000')} / 1000000.0 AS residual,
           {_q_away_sql('(r.residual + COALESCE(b.bq, 0) / 1000000000.0)', '1000000')}
             / 1000000.0 AS restored
    FROM residf r
    LEFT JOIN beam{i} b ON b.u_cell = r.u_cell AND b.v_cell = r.v_cell"""
        )
    return (
        common
        + ",\n    "
        + ",\n    ".join(beams)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ORDER BY sigma, u_cell, v_cell"
    )


@register("clean_restore_beam_sweep", _restore_sweep_oracle())
def clean_restore_beam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restoring-beam width sweep over one CLEAN solution (σ ∈ {1.0,
    1.5, 2.5} cell units): the minor cycle runs once, the restore
    convolution per beam — the fitted-vs-forced beam comparison of an
    imaging pipeline, exactly oracled per σ."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return clean_op.clean_restore_beam_sweep(
        spark, grid_op.grid_natural(vis)
    ).orderBy("sigma", "u_cell", "v_cell")


@register("clean_restore_image", _RESTORE_ORACLE)
def clean_restore_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end imaging minor cycle: distributed natural-weight grid →
    driver Hogbom CLEAN → restoring-beam convolution of the components +
    residual (reference deconv/hogbom/clean.py:122-246 composed with the
    gridder) — the full dirty→model→restored loop as one query, exactly
    oracled via the decay-table identity (residual after n picks = decay
    at k=n) and 1e-9-quantized Gaussian splats."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return clean_op.clean_restore(spark, grid_op.grid_natural(vis)).orderBy(
        "u_cell", "v_cell"
    )


def _write_wsclean_file(sf_dir: str) -> str:
    """Deterministic WSClean text model derived from nation keys (so the
    oracle can recompute every parsed value from the table)."""
    import duckdb as _duckdb

    rows = _duckdb.sql(
        f"SELECT n_nationkey FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey"
    ).fetchall()
    path = _os.path.join(_tempfile.gettempdir(), "codex_africanus_wsclean_model.txt")
    with open(path, "w") as fh:
        fh.write(
            "Format = Name, Type, Ra, Dec, I, SpectralIndex, LogarithmicSI, "
            "ReferenceFrequency='856000000.0', MajorAxis, MinorAxis, Orientation\n"
        )
        for (n,) in rows:
            sign = "-" if n % 2 else "+"
            ra = f"{n % 24:02d}:{(n * 7) % 60:02d}:{n % 60:02d}"
            dec = f"{sign}{n % 45:02d}.{(n * 3) % 60:02d}.{(n * 11) % 60:02d}"
            gauss = n % 3 == 0
            stype = "GAUSSIAN" if gauss else "POINT"
            spi = f"[{-(n % 3)}e-1,{(n % 2)}e-2]"
            logsi = "true" if n % 2 == 0 else "false"
            maj = f"{(1 + n % 4) * 10}" if gauss else ""
            mnr = f"{(1 + n % 4) * 5}" if gauss else ""
            ori = f"{(n * 15) % 180}" if gauss else ""
            fh.write(f"s{n},{stype},{ra},{dec},{1 + n % 5},{spi},{logsi},,{maj},{mnr},{ori}\n")
    return path


_WSCLEAN_ORACLE = """
    SELECT concat('s', n_nationkey) AS name,
           CASE WHEN n_nationkey % 3 = 0 THEN 'GAUSSIAN' ELSE 'POINT' END AS source_type,
           round(((n_nationkey % 24) + ((n_nationkey * 7) % 60) / 60.0 + (n_nationkey % 60) / 3600.0)
                 * (pi() / 12.0), 9) AS ra,
           round((CASE WHEN n_nationkey % 2 = 1 THEN -1.0 ELSE 1.0 END)
                 * ((n_nationkey % 45) + ((n_nationkey * 3) % 60) / 60.0 + ((n_nationkey * 11) % 60) / 3600.0)
                 * (pi() / 180.0), 9) AS dec,
           CAST(1 + n_nationkey % 5 AS DOUBLE) AS flux_i,
           round(-(n_nationkey % 3) / 10.0, 9) AS spi_0,
           round((n_nationkey % 2) / 100.0, 9) AS spi_1,
           (n_nationkey % 2 = 0) AS log_si,
           856000000.0 AS ref_freq
    FROM nation ORDER BY name
"""


@register("wsclean_model_reader", _WSCLEAN_ORACLE)
def wsclean_model_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WSClean text sky-model ingest: header defaults, sexagesimal Ra/Dec
    converters, bracketed spectral-index lists — all Column expressions
    (reference file_model.py:197-251)."""
    path = _write_wsclean_file(sf_dir)
    src = wsclean_src.read_wsclean_model(spark, path)
    return src.select(
        "name",
        "source_type",
        F.round(F.col("ra"), 9).alias("ra"),
        F.round(F.col("dec"), 9).alias("dec"),
        "flux_i",
        F.round(F.col("spectral_index").getItem(0), 9).alias("spi_0"),
        F.round(F.col("spectral_index").getItem(1), 9).alias("spi_1"),
        "log_si",
        "ref_freq",
    ).orderBy("name")


@register("degrid_policy_phase_rotate", _with_ms(grid_op.degrid_phase_rotated_sql()))
def degrid_policy_phase_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-parameterized degridding: nearest-cell gather composed with
    the Perley & Cornwell phase-rotate policy (reference
    perleypolyhedron/policies/phase_transform_policies.py:10-36) — the
    delta-lmn literals constant-fold, so the policy costs nothing beyond
    the broadcast degrid join."""
    return grid_op.degrid_phase_rotated(tpch_ms.vis_table(spark, sf_dir))


def _beam_lg(e: str) -> str:
    """l/m grid value at index e (linspace(-0.1, 0.1, 33)) — the ONE
    definition shared by the corner-value and index/weight CTE builders
    (a drift between two copies would silently corrupt every beam
    oracle)."""
    return f"(({e}) * (0.2e0 / 32) + (-0.1e0))"


def _beam_fgv(e: str) -> str:
    """freq grid value at index e (linspace(856e6, 1712e6, 5))."""
    return f"(({e}) * (856000000.0 / 4) + 856000000.0)"


def _beam_trilinear_total() -> str:
    """SQL expression for the trilinear-interpolated test-cube value over
    the `wts` CTE columns (li/mi/fi + lw/mw/fw) — shared by the sampling
    oracle and the beam-DDE predict oracle so the arithmetic cannot fork."""

    lg, fgv = _beam_lg, _beam_fgv

    def cube(li, mi, fi):
        return (
            f"(cos(({lg(li)} / 0.1e0) * 1.2e0) * cos(({lg(mi)} / 0.1e0) * 1.1e0))"
            f" * (1.0 - 0.1e0 * (({fgv(fi)} / 856000000.0) - 1.0))"
        )

    corners = []
    for dl in (0, 1):
        for dm in (0, 1):
            for df_ in (0, 1):
                w = (
                    f"({'lw' if dl else '(1.0 - lw)'}"
                    f" * {'mw' if dm else '(1.0 - mw)'})"
                    f" * {'fw' if df_ else '(1.0 - fw)'}"
                )
                corners.append(f"({w} * ({cube(f'li + {dl}', f'mi + {dm}', f'fi + {df_}')}))")
    # corner order (dl, dm, df) outer-to-inner == the UDF's tuple order
    # ((0,0,0), (0,0,1), (0,1,0), ...) — summation sequence matches
    total = corners[0]
    for c in corners[1:]:
        total = f"({total} + {c})"
    return total


_BEAM_DEFAULT_PAIRS = """
          SELECT s.source_id, c.chan, s.l, s.m,
                 856000000.0 * (1 + c.chan / 8.0) AS freq
          FROM src s, chan c
        """


def _beam_gain_ctes(pairs_sql: str = _BEAM_DEFAULT_PAIRS) -> str:
    """CTE chain computing the trilinear beam sample over whatever
    `pairs_sql` emits (must provide l, m, freq; extra key columns ride
    through p.*) — the body shared by `_beam_cube_oracle`, the beam-DDE
    predict oracle, and the pointing-error variant (ends with the `wts`
    CTE; select `_beam_trilinear_total()` from it)."""

    lg, fgv = _beam_lg, _beam_fgv

    return f"""
        , chan AS (SELECT CAST(range AS INT) AS chan FROM range(7))
        , pairs AS ({pairs_sql}), idx AS (
          SELECT p.*,
            LEAST(GREATEST(COALESCE((SELECT MAX(g.range) FROM range(33) g
              WHERE {lg('g.range')} <= p.l), -1), 0), 31) AS li,
            LEAST(GREATEST(COALESCE((SELECT MAX(g.range) FROM range(33) g
              WHERE {lg('g.range')} <= p.m), -1), 0), 31) AS mi,
            LEAST(GREATEST(COALESCE((SELECT MAX(g.range) FROM range(5) g
              WHERE {fgv('g.range')} <= p.freq), -1), 0), 3) AS fi
          FROM pairs p
        ), wts AS (
          SELECT *,
            LEAST(GREATEST((l - {lg('li')}) / ({lg('li + 1')} - {lg('li')}), 0.0), 1.0) AS lw,
            LEAST(GREATEST((m - {lg('mi')}) / ({lg('mi + 1')} - {lg('mi')}), 0.0), 1.0) AS mw,
            LEAST(GREATEST((freq - {fgv('fi')}) / ({fgv('fi + 1')} - {fgv('fi')}), 0.0), 1.0) AS fw
          FROM idx
        )"""


def _beam_cube_oracle() -> str:
    """Exact SQL mirror of the trilinear sampling: the synthetic cube is
    closed-form (make_test_beam_cube), linspace grids are affine with a
    dyadic-exact delta (2·0.1 and /32 are both exact), and searchsorted
    is MAX(i) FILTER (g ≤ x) over the same float grid values — so DuckDB
    reproduces the pandas-UDF gather bit-for-bit before the 9dp round."""
    return _with_ms(
        f"""{_beam_gain_ctes()}
        SELECT source_id, chan, round({_beam_trilinear_total()}, 9) AS beam_gain
        FROM wts ORDER BY source_id, chan
        """
    )


@register("beam_cube_dde_sampling", _beam_cube_oracle())
def beam_cube_dde_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trilinear beam-cube interpolation per (source, chan) via broadcast
    cube + Arrow pandas UDF (reference fast_beam_cubes.py:58-301) —
    gather-heavy in general; for the closed-form test cube the DuckDB
    oracle reproduces the gather exactly (see _beam_cube_oracle)."""
    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    pairs = src.crossJoin(chan).select(
        "source_id", "chan", "l", "m",
        (F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))).alias("frequency"),
    )
    beam = beam_op.make_test_beam_cube()
    out = beam_op.beam_cube_dde(pairs, beam)
    return out.select(
        "source_id", "chan", F.round(F.col("beam_gain"), 9).alias("beam_gain")
    ).orderBy("source_id", "chan")


def _beam_stokes_predict_oracle() -> str:
    """Beam-DDE predict mirror: the shared trilinear CTE chain feeds the
    per-(source, chan) gain (rounded to the same 9dp grid as the engine
    side, so bg is the identical double), squared into the I,Q-only
    XX/YY brightness, phase-rotated and reduced on the 1e-6 fixed-point
    grid exactly like _PREDICT_ORACLE."""
    return _with_ms(
        f"""{_beam_gain_ctes()}
        , beamg AS (
          SELECT source_id, chan, round({_beam_trilinear_total()}, 9) AS bg
          FROM wts
        ), coh AS (
          SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
                 ((b.bg * b.bg) * (s.flux_i + s.flux_q)) AS fxx,
                 ((b.bg * b.bg) * (s.flux_i - s.flux_q)) AS fyy,
                 -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
          FROM vis v
          JOIN beamg b ON b.chan = v.chan
          JOIN src s ON s.source_id = b.source_id
        )
        SELECT row_id, antenna1, antenna2, chan,
               SUM(CAST(ROUND(fxx * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS xx_re,
               SUM(CAST(ROUND(fxx * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS xx_im,
               SUM(CAST(ROUND(fyy * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS yy_re,
               SUM(CAST(ROUND(fyy * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS yy_im
        FROM coh
        GROUP BY row_id, antenna1, antenna2, chan
        """
    )


@register("beam_stokes_dde_predict", _beam_stokes_predict_oracle())
def beam_stokes_dde_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-sampled DDE predict through the general stokes compiler: an
    I,Q-only catalogue compiled to diagonal XX/YY correlations (U,V
    implicitly defaulted — reference conversion.py:56-205 priority
    scheme), the trilinear test-cube beam sampled per (source, chan)
    (fast_beam_cubes.py:58-301) applied as the real scalar E-Jones
    sandwich E·B·Eᴴ = bg²·B (the dde path of predict.py:86-150), then
    the deterministic fixed-point source reduction of predict.py:566-649.

    Plan shape: the beam/brightness side is (n_src × n_chan) rows built
    once (the pandas UDF runs on the tiny side only) and broadcast; the
    fact table joins on chan — no fact shuffle before the partial agg."""
    from codex_africanus_spark.functions.stokes import convert_general
    from codex_africanus_spark.sources.tables import fan_out

    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    pairs = src.crossJoin(chan).select(
        "source_id", "chan", "l", "m",
        (F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))).alias("frequency"),
    )
    bg = beam_op.beam_cube_dde(pairs, beam_op.make_test_beam_cube()).select(
        "source_id", "chan", F.round(F.col("beam_gain"), 9).alias("bg")
    )
    corrs = convert_general(
        {"I": F.col("flux_i"), "Q": F.col("flux_q")}, ["XX", "YY"]
    )
    src_corr = src.select(
        "source_id", "l", "m", "n",
        corrs["XX"].re.alias("xx"), corrs["YY"].re.alias("yy"),
    )
    src_beam = src_corr.join(bg, "source_id").select(
        "chan", "l", "m", "n",
        ((F.col("bg") * F.col("bg")) * F.col("xx")).alias("fxx"),
        ((F.col("bg") * F.col("bg")) * F.col("yy")).alias("fyy"),
    )
    vis = tpch_ms.vis_table(spark, sf_dir)
    j = fan_out(vis).join(F.broadcast(src_beam), "chan")
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"),
                   F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
    )
    coh = j.select(
        "row_id", "antenna1", "antenna2", "chan",
        (F.col("fxx") * F.cos(theta)).alias("cxx_re"),
        (F.col("fxx") * F.sin(theta)).alias("cxx_im"),
        (F.col("fyy") * F.cos(theta)).alias("cyy_re"),
        (F.col("fyy") * F.sin(theta)).alias("cyy_im"),
    )
    # no output sort: order-insensitive compare; a global sort of a
    # fact-sized result is exactly what dies at 100 TB
    return coh.groupBy("row_id", "antenna1", "antenna2", "chan").agg(
        (qsum(F.col("cxx_re"), 1e6) / F.lit(1e6)).alias("xx_re"),
        (qsum(F.col("cxx_im"), 1e6) / F.lit(1e6)).alias("xx_im"),
        (qsum(F.col("cyy_re"), 1e6) / F.lit(1e6)).alias("yy_re"),
        (qsum(F.col("cyy_im"), 1e6) / F.lit(1e6)).alias("yy_im"),
    )


_WSCLEAN_SPECTRA_ORACLE = _with_ms(
    """
    SELECT s.source_id, CAST(c.range AS INT) AS chan,
           round(CASE WHEN s.source_id % 2 = 0
             THEN exp(ln(s.flux_i) + s.spi * ln((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq)
                      + 0.01 * ln((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq)
                           * ln((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq))
             ELSE s.flux_i + s.spi * ((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq - 1.0)
                  + 0.01 * ((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq - 1.0)
                        * ((856000000.0 * (1 + c.range / 8.0)) / s.ref_freq - 1.0)
             END, 9) AS flux
    FROM src s, range(7) c
    ORDER BY s.source_id, chan
    """
)


@register("wsclean_polynomial_spectra", _WSCLEAN_SPECTRA_ORACLE)
def wsclean_polynomial_spectra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WSClean ordinary vs logarithmic polynomial spectra (reference
    model/wsclean/spec_model.py:9-27,71-132) with coeffs [spi, 0.01]."""
    src = tpch_ms.source_table(spark, sf_dir)
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    j = src.crossJoin(chan)
    freq = F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))
    flux = wsclean_spectra(
        F.col("flux_i"),
        [F.col("spi"), F.lit(0.01)],
        F.col("source_id") % 2 == 0,
        F.col("ref_freq"),
        freq,
    )
    return j.select(
        "source_id", "chan", F.round(flux, 9).alias("flux")
    ).orderBy("source_id", "chan")


_IM_TO_VIS_ORACLE = _with_ms(
    """
    , gated AS (SELECT * FROM vis WHERE NOT (flag OR flag_row)),
    -- trig outputs on the 1e-6 grid, both stages (r9 sf1.0 fork fix:
    -- ~6e5 image amplitudes amplify 1-ULP trig disagreements onto the
    -- output rounding boundary)
    image AS (
      SELECT s.source_id, s.l, s.m, s.n, v.chan,
             SUM(CAST(ROUND((CAST(ROUND(cos(2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0 * v.vis_re
                           - CAST(ROUND(sin(2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0 * v.vis_im)
                      * 1000000) AS BIGINT)) / 1000000.0 AS image
      FROM gated v, src s
      GROUP BY s.source_id, s.l, s.m, s.n, v.chan
    )
    SELECT v.row_id, v.chan,
           SUM(CAST(ROUND(i.image * (CAST(ROUND(cos(-2.0958450219516816e-08 * (v.u*i.l + v.v*i.m + v.w*(i.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(i.image * (CAST(ROUND(sin(-2.0958450219516816e-08 * (v.u*i.l + v.v*i.m + v.w*(i.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM gated v JOIN image i ON v.chan = i.chan
    WHERE v.row_id % 31 = 0
    GROUP BY v.row_id, v.chan
    ORDER BY v.row_id, v.chan
    """
)


@register("dft_im_to_vis_forward", _IM_TO_VIS_ORACLE)
def dft_im_to_vis_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward DFT: predict visibilities from the vis_to_im image table
    (reference dft/kernels.py:15-69) — the adjoint round-trip pair."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    image = dft_op.vis_to_im(vis, src).join(
        F.broadcast(
            tpch_ms.source_table(spark, sf_dir).select("source_id", "l", "m", "n")
        ),
        "source_id",
    )
    gated = vis.filter(~(F.col("flag") | F.col("flag_row"))).filter(
        F.col("row_id") % 31 == 0
    )
    j = gated.join(
        F.broadcast(image.select("source_id", "chan", "l", "m", "n", "image")), "chan"
    )
    from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path

    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
        "fourier",
    )
    # forward trig on the 1e-6 grid too (dft_op._q6 — r9 sf1.0 fork fix)
    return (
        j.groupBy("row_id", "chan")
        .agg(
            (qsum(F.col("image") * dft_op._q6(F.cos(theta)), 1e6) / F.lit(1e6)).alias("vis_re"),
            (qsum(F.col("image") * dft_op._q6(F.sin(theta)), 1e6) / F.lit(1e6)).alias("vis_im"),
        )
        .orderBy("row_id", "chan")
    )


_SHAPELET_COEFFS = [1.0, 0.5, -0.25, 0.125]


_SHAPELET_ORACLE = _with_ms(
    f"""
    SELECT row_id,
           round({shapelet_1d_sql('u / 100.0', _SHAPELET_COEFFS, 1.0)}, 9) AS shapelet_u,
           round({shapelet_1d_sql('v / 100.0', _SHAPELET_COEFFS, 1.0)}, 9) AS shapelet_v
    FROM vis WHERE row_id % 41 = 0
    ORDER BY row_id
    """
)


@register("shapelet_basis_eval", _SHAPELET_ORACLE)
def shapelet_basis_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hermite shapelet basis evaluation at scaled uv (reference
    model/shape/shapelets.py:57-153; orders ≤ 3 as closed-form Column
    expressions — codegen path; higher orders via pandas UDF)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 41 == 0)
    return vis.select(
        "row_id",
        F.round(shapelet_1d(F.col("u") / 100.0, _SHAPELET_COEFFS, 1.0), 9).alias("shapelet_u"),
        F.round(shapelet_1d(F.col("v") / 100.0, _SHAPELET_COEFFS, 1.0), 9).alias("shapelet_v"),
    ).orderBy("row_id")


# Exact SQL mirror of the Zernike UDF for the fixed Noll set [1,2,3,4]
# (Z1=piston, Z2=ρcosθ tilt, Z3=ρsinθ tilt, Z4=2ρ²−1 defocus): radial
# polynomials written with explicit products (no pow), accumulation
# order matching the sampler's coefficient loop.
_ZERNIKE_ORACLE = _with_ms(
    """
    , pol AS (
      SELECT source_id,
             sqrt((l / 0.1e0) * (l / 0.1e0) + (m / 0.1e0) * (m / 0.1e0)) AS rho,
             atan2(m / 0.1e0, l / 0.1e0) AS theta
      FROM src
    ), rc AS (
      SELECT source_id, theta, LEAST(GREATEST(rho, 0.0), 1.0) AS rc FROM pol
    )
    SELECT source_id,
           round((((1.0e0 * (1.0 * cos(0.0 * theta)))
                   + (0.3e0 * (rc * cos(theta))))
                  + ((-0.2e0) * (rc * sin(theta))))
                 + (0.1e0 * (((2.0 * (rc * rc)) - 1.0) * cos(0.0 * theta))), 9)
             AS zernike_gain
    FROM rc ORDER BY source_id
    """
)


@register("zernike_dde_sampling", _ZERNIKE_ORACLE)
def zernike_dde_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zernike-polynomial beam DDE at each catalogue pointing (reference
    rime/zernike.py:110-198) — pandas UDF with broadcast Noll
    coefficients; for the fixed Noll set the polynomial expansion is
    closed-form, so the DuckDB oracle reproduces the sampler exactly
    (NumPy-oracle unit test additionally covers arbitrary indices)."""
    src = tpch_ms.source_table(spark, sf_dir)
    out = zernike_op.zernike_dde(
        src.select("source_id", "l", "m"), [1.0, 0.3, -0.2, 0.1], [1, 2, 3, 4]
    )
    return out.select(
        "source_id", F.round(F.col("zernike_gain"), 9).alias("zernike_gain")
    ).orderBy("source_id")


_FREQ_GRID = [856e6, 1070e6, 1284e6, 1498e6, 1712e6]


_ASOF_ORACLE = _with_ms(
    f"""
    , grid AS (SELECT unnest([{", ".join(f"{g!r}e0" if "e" not in repr(g) else repr(g) for g in _FREQ_GRID)}]) AS g),
    clamped AS (
      SELECT row_id, LEAST(GREATEST(frequency, 856000000.0), 1712000000.0) AS v
      FROM vis WHERE row_id % 37 = 0
    ),
    lo AS (
      SELECT c.row_id, c.v,
             CASE WHEN MAX(g.g) >= 1712000000.0 THEN 1498000000.0 ELSE MAX(g.g) END AS grid_lo
      FROM clamped c JOIN grid g ON g.g <= c.v
      GROUP BY c.row_id, c.v
    ),
    hi AS (
      SELECT l.row_id, l.v, l.grid_lo, MIN(g.g) AS grid_hi
      FROM lo l JOIN grid g ON g.g > l.grid_lo
      GROUP BY l.row_id, l.v, l.grid_lo
    )
    SELECT row_id, grid_lo, grid_hi,
           (v - grid_lo) / (grid_hi - grid_lo) AS interp_weight
    FROM hi ORDER BY row_id
    """
)


@register("asof_freq_grid_interp", _ASOF_ORACLE)
def asof_freq_grid_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-frequency as-of/interval join: each data frequency matched to
    its enclosing grid interval with clamped linear weight (reference
    fast_beam_cubes.py:11-54 freq_grid_interp)."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 37 == 0)
    grid = local_frame(spark, [(g,) for g in _FREQ_GRID], "grid_value double")
    out = asof_op.asof_grid_interp(
        vis.select("row_id", "frequency"), grid, "frequency", keys=["row_id"]
    )
    return out.select("row_id", "grid_lo", "grid_hi", "interp_weight").orderBy("row_id")


_WSCLEAN_PREDICT_ORACLE = _with_ms(
    """
    , wsrc AS (
      SELECT ((n_nationkey % 24) + ((n_nationkey * 7) % 60) / 60.0 + (n_nationkey % 60) / 3600.0)
               * (pi() / 12.0) AS ra,
             (CASE WHEN n_nationkey % 2 = 1 THEN -1.0 ELSE 1.0 END)
               * ((n_nationkey % 45) + ((n_nationkey * 3) % 60) / 60.0 + ((n_nationkey * 11) % 60) / 3600.0)
               * (pi() / 180.0) AS dec,
             CAST(1 + n_nationkey % 5 AS DOUBLE) AS flux_i
      FROM nation
    ),
    lm AS (
      SELECT flux_i,
             cos(dec) * sin(ra - 0.5)                                   AS l,
             sin(dec) * cos(CAST(0.1 AS DOUBLE))
               - cos(dec) * sin(CAST(0.1 AS DOUBLE)) * cos(ra - 0.5)    AS m
      FROM wsrc
    ),
    lmn AS (
      SELECT flux_i, l, m,
             sqrt(greatest(0.0, 1.0 - l*l - m*m)) AS n
      FROM lm
    )
    SELECT v.row_id, v.chan,
           SUM(CAST(ROUND(s.flux_i * cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(s.flux_i * sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM vis v, lmn s
    WHERE v.row_id % 23 = 0
    GROUP BY v.row_id, v.chan
    ORDER BY v.row_id, v.chan
    """
)


@register("wsclean_predict_end_to_end", _WSCLEAN_PREDICT_ORACLE)
def wsclean_predict_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full predict.py workflow in one Catalyst plan:
    WSClean text model → sexagesimal parse → radec_to_lmn → phase-delay
    cross join → flux-weighted deterministic source reduction
    (examples/predict.py:531-586, re-expressed Spark-first)."""
    path = _write_wsclean_file(sf_dir)
    src = wsclean_src.read_wsclean_model(spark, path)
    l, m, n = radec_to_lmn(F.col("ra"), F.col("dec"), F.lit(0.5), F.lit(0.1))
    lmn = src.select(
        "flux_i", l.alias("l"), m.alias("m"), n.alias("n")
    )
    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 23 == 0)
    j = vis.crossJoin(F.broadcast(lmn))
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"), F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
        "fourier",
    )
    return (
        j.groupBy("row_id", "chan")
        .agg(
            (qsum(F.col("flux_i") * F.cos(theta), 1e6) / F.lit(1e6)).alias("vis_re"),
            (qsum(F.col("flux_i") * F.sin(theta), 1e6) / F.lit(1e6)).alias("vis_im"),
        )
        .orderBy("row_id", "chan")
    )


_RIME_SHAPELET_ORACLE = _with_ms(
    """
    , coh AS (
      SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
             s.flux_i * pow(v.frequency / s.ref_freq, s.spi)
               * {shp} AS flux,
             -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
      FROM vis v, src s
    )
    SELECT row_id, antenna1, antenna2, chan,
           SUM(CAST(ROUND(flux * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_re,
           SUM(CAST(ROUND(flux * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS vis_im
    FROM coh
    GROUP BY row_id, antenna1, antenna2, chan
    ORDER BY row_id
    """.format(shp=shapelet_1d_sql("v.u / 100.0", [1.0, 0.5, -0.25, 0.125], 1.0))
)


@register("rime_shapelet_predict", _RIME_SHAPELET_ORACLE)
def rime_shapelet_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'(Kpq, Bpq, Sp)': Hermite shapelet envelope composed through the
    RIME spec compiler (reference shapelets.py:57-153 as a fused term).
    The S term is a closed-form Column expression, so the whole spec
    stays in whole-stage codegen and remains exactly oracle-able."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    return rime_plan.rime("(Kpq, Bpq, Sp)", vis, src)


# Orders 6x4 — beyond the expression path's 0..3 limit (ROADMAP #4:
# "shapelet orders > 3 take the UDF path"); a few zeros exercise the
# reference's zero-coefficient skip (shapelets.py:91-97).
SH2D_COEFFS = [
    [((n1 * 4 + n2) * 7 % 11 - 5) / 8.0 if (n1 * 4 + n2) * 7 % 11 != 5 else 0.0
     for n2 in range(4)]
    for n1 in range(6)
]


_SH2D_BU = "CASE WHEN s.source_id = 13 THEN 0.0 ELSE (1 + s.source_id % 3) * 0.05e0 END"


_SH2D_BV = "(1 + s.source_id % 2) * 0.04e0"


def _sh2d_oracle() -> str:
    from codex_africanus_spark.functions.shapes import shapelet_2d_sql_columns

    cols = shapelet_2d_sql_columns(
        "v.u / 500.0", "v.v / 500.0", "v.frequency",
        _SH2D_BU, _SH2D_BV, SH2D_COEFFS,
    )
    return _with_ms(
        f"""
        , sh0 AS (
          SELECT v.row_id, v.chan, s.source_id,
             cos(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS ct0,
             sin(-2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) AS st0,
             {cols}
          FROM vis v, src s
          WHERE v.row_id % 53 = 0
        ), sh AS (
          -- transcendental outputs quantized to the shared 1e-9 grid
          -- (r11 sf1.0 fork: JVM/numpy vs libm 1-ULP on sin/cos/exp
          -- crossed the 6dp boundary on 2 of 5.6M rows)
          SELECT row_id, chan, source_id,
                 CAST(ROUND(ct0 * 1000000000) AS BIGINT) / 1000000000.0 AS ct,
                 CAST(ROUND(st0 * 1000000000) AS BIGINT) / 1000000000.0 AS st,
                 CAST(ROUND(sh_re * 1000000000) AS BIGINT) / 1000000000.0 AS shq_re,
                 CAST(ROUND(sh_im * 1000000000) AS BIGINT) / 1000000000.0 AS shq_im
          FROM sh0
        )
        SELECT row_id, source_id, chan,
               CAST(ROUND((shq_re * ct - shq_im * st) * 1000000) AS BIGINT)
                 / 1000000.0 AS w_re,
               CAST(ROUND((shq_re * st + shq_im * ct) * 1000000) AS BIGINT)
                 / 1000000.0 AS w_im
        FROM sh ORDER BY row_id, source_id, chan
        """
    )


@register("shapelet_2d_w_term", _sh2d_oracle())
def shapelet_2d_w_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-order (6x4) 2-D complex shapelet envelope times the
    w-correction phase (reference shapelet_with_w_term,
    shapelets.py:102-149). The Hermite recursion runs in an
    Arrow-batched pandas UDF (operators/shapelets.py); the phase steer
    stays a Column expression — and the whole thing is still EXACTLY
    oracled because the generated DuckDB SQL mirrors the UDF's
    arithmetic term-for-term (shapes.shapelet_2d_sql_columns)."""
    from codex_africanus_spark.functions.complex_algebra import Cplx as _Cplx
    from codex_africanus_spark.functions.complex_algebra import cexp_i
    from codex_africanus_spark.operators.shapelets import shapelet_2d

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 53 == 0)
    src = tpch_ms.source_table(spark, sf_dir).select(
        "source_id", "l", "m", "n",
        F.when(F.col("source_id") == 13, F.lit(0.0))
        .otherwise((1 + F.col("source_id") % 3) * F.lit(0.05)).alias("beta_u"),
        ((1 + F.col("source_id") % 2) * F.lit(0.04)).alias("beta_v"),
    )
    joined = (
        vis.crossJoin(F.broadcast(src))
        .withColumn("u_coord", F.col("u") / F.lit(500.0))
        .withColumn("v_coord", F.col("v") / F.lit(500.0))
    )
    env = shapelet_2d(joined, SH2D_COEFFS)
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"),
                   F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"), "fourier",
    )
    def _q9(c):
        return F.round(c * 1000000000).cast("long") / F.lit(1000000000.0)

    # 1e-9-grid quantization of every transcendental output before the
    # complex product (see the oracle's sh CTE comment)
    out = _Cplx(_q9(F.col("sh_re")), _q9(F.col("sh_im"))) * _Cplx(
        _q9(F.cos(theta)), _q9(F.sin(theta))
    )
    # r11 sf1.0 fork (2 rows of 5.6M): Spark's exact-decimal round(x,6)
    # vs DuckDB's multiply-path round disagree when x*1e6 sits within a
    # ULP of a .5 boundary — same class as the delta_nu fix; the
    # integer-grid idiom makes both engines multiply-based.
    return env.select(
        "row_id", "source_id", "chan",
        (F.round(out.re * 1000000).cast("long") / F.lit(1000000.0)).alias("w_re"),
        (F.round(out.im * 1000000).cast("long") / F.lit(1000000.0)).alias("w_im"),
    ).orderBy("row_id", "source_id", "chan")


_FFT_DIRTY_ORACLE = _with_ms(
    """
    , grid AS (
      SELECT ((CAST(ROUND(u / 10.0) AS BIGINT) % 32) + 32) % 32 AS u_cell,
             ((CAST(ROUND(v / 10.0) AS BIGINT) % 32) + 32) % 32 AS v_cell,
             SUM(CAST(ROUND(vis_re * weight * 1000000) AS BIGINT)) / 1000000.0 AS g_re,
             SUM(CAST(ROUND(vis_im * weight * 1000000) AS BIGINT)) / 1000000.0 AS g_im
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2
    ), wsum AS (
      SELECT SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) / 1000000.0 AS w
      FROM vis WHERE NOT (flag OR flag_row)
    ), pix AS (
      SELECT CAST(y.range AS INT) AS y, CAST(x.range AS INT) AS x
      FROM range(32) y, range(32) x
    )
    SELECT p.y, p.x,
           round(SUM(g.g_re * cos(2 * pi() * (g.v_cell * p.y / 32.0 + g.u_cell * p.x / 32.0))
                     - g.g_im * sin(2 * pi() * (g.v_cell * p.y / 32.0 + g.u_cell * p.x / 32.0)))
                 / MAX(w.w), 6) AS value
    FROM pix p CROSS JOIN grid g CROSS JOIN wsum w
    GROUP BY p.y, p.x
    ORDER BY p.y, p.x
    """
)


def _image_pixels(spark: SparkSession, img) -> DataFrame:
    """A driver-side image as (y, x, value) rows, value rounded to 6dp."""
    return local_frame(
        spark,
        [
            (y, x, round(float(img[y, x]), 6))
            for y in range(img.shape[0])
            for x in range(img.shape[1])
        ],
        "y long, x long, value double",
    )


@register("fft_dirty_image", _FFT_DIRTY_ORACLE)
def fft_dirty_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFT imaging tier: distributed exact uv-grid accumulation + driver
    FFT → dirty image (the wgridder architecture, vis2im.py:16-130, with
    NumPy standing in for ducc0). The oracle recomputes the image as a
    direct DFT over the same fixed-point grid — the FFT and the DFT agree
    to ~1e-12, far inside the 6dp output round (the engine-side identity
    is also machine-precision-tested in tests/test_fft_imaging.py)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    img, wsum = fft_op.dirty_image(vis, nx=32, ny=32)
    return _image_pixels(spark, img)


_FFT_WSTACK_ORACLE = _with_ms(
    """
    , grid AS (
      SELECT CAST(ROUND(w / 2.0) AS BIGINT) AS w_plane,
             ((CAST(ROUND(u / 10.0) AS BIGINT) % 32) + 32) % 32 AS u_cell,
             ((CAST(ROUND(v / 10.0) AS BIGINT) % 32) + 32) % 32 AS v_cell,
             SUM(CAST(ROUND(vis_re * weight * 1000000) AS BIGINT)) / 1000000.0 AS g_re,
             SUM(CAST(ROUND(vis_im * weight * 1000000) AS BIGINT)) / 1000000.0 AS g_im
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2, 3
    ), wsum AS (
      SELECT SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) / 1000000.0 AS w
      FROM vis WHERE NOT (flag OR flag_row)
    ), pix AS (
      SELECT CAST(y.range AS INT) AS y, CAST(x.range AS INT) AS x,
             (((x.range + 16) % 32) - 16) / 320.0 AS l,
             (((y.range + 16) % 32) - 16) / 320.0 AS m
      FROM range(32) y, range(32) x
    ), pixn AS (
      SELECT y, x, sqrt(greatest(0.0, 1.0 - l*l - m*m)) - 1.0 AS nm1 FROM pix
    )
    SELECT p.y, p.x,
           round(SUM(g.g_re * cos(2 * pi() * (g.v_cell * p.y / 32.0 + g.u_cell * p.x / 32.0
                                              + g.w_plane * 2.0 * p.nm1))
                     - g.g_im * sin(2 * pi() * (g.v_cell * p.y / 32.0 + g.u_cell * p.x / 32.0
                                                + g.w_plane * 2.0 * p.nm1)))
                 / MAX(w.w), 6) AS value
    FROM pixn p CROSS JOIN grid g CROSS JOIN wsum w
    GROUP BY p.y, p.x
    ORDER BY p.y, p.x
    """
)


@register("fft_dirty_image_wstack", _FFT_WSTACK_ORACLE)
def fft_dirty_image_wstack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-field dirty image via w-stacking (the reference wgridder's
    w-correction, vis2im.py:16-130): one distributed (w_plane, cell)
    accumulation, per-plane driver FFT × w-screen e^{2πi·w_p·(n−1)},
    planes summed. The oracle is the direct w-term DFT over the same
    fixed-point plane grids — FFT·screen vs DFT agree to ~1e-12, inside
    the 6dp output round."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    img, wsum = fft_op.dirty_image_wstack(vis, nx=32, ny=32, cell=10.0, w_step=2.0)
    return _image_pixels(spark, img)


# Fixed 8×8 two-pixel model image for the residual query: its forward
# FFT has the closed form G[vc,uc] = e^{-iπ(vc+2uc)/4} + 0.5·e^{-iπ(5vc+3uc)/4},
# which the DuckDB oracle evaluates directly — so the whole distributed
# residual-grid stage is EXACTLY oracled even though the Spark side runs
# a genuine np.fft.fft2 (both sides 9dp-quantize the model grid).
_RESID_ORACLE = _with_ms(
    """
    , mg AS (
      SELECT v.range AS v_cell, u.range AS u_cell,
             round(cos(pi() * (v.range + 2 * u.range) / 4.0)
                   + 0.5e0 * cos(pi() * (5 * v.range + 3 * u.range) / 4.0), 9) + 0.0 AS m_re,
             round(-sin(pi() * (v.range + 2 * u.range) / 4.0)
                   - 0.5e0 * sin(pi() * (5 * v.range + 3 * u.range) / 4.0), 9) + 0.0 AS m_im
      FROM range(8) v, range(8) u
    ), cells AS (
      SELECT ((CAST(ROUND(u / 10.0) AS BIGINT) % 8) + 8) % 8 AS u_cell,
             ((CAST(ROUND(v / 10.0) AS BIGINT) % 8) + 8) % 8 AS v_cell,
             vis_re, vis_im, weight
      FROM vis WHERE NOT (flag OR flag_row)
    )
    SELECT c.u_cell, c.v_cell,
           SUM(CAST(ROUND((c.vis_re - m.m_re) * c.weight * 1000000) AS BIGINT)) / 1000000.0 AS res_re,
           SUM(CAST(ROUND((c.vis_im - m.m_im) * c.weight * 1000000) AS BIGINT)) / 1000000.0 AS res_im,
           SUM(CAST(ROUND(c.weight * 1000000) AS BIGINT)) / 1000000.0 AS wsum
    FROM cells c JOIN mg m ON m.u_cell = c.u_cell AND m.v_cell = c.v_cell
    GROUP BY c.u_cell, c.v_cell
    ORDER BY c.u_cell, c.v_cell
    """
)


@register("fft_residual_grid", _RESID_ORACLE)
def fft_residual_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed stage of the wgridder residual (im2residim.py:40-110):
    model image → driver forward FFT → broadcast uv samples → per-row
    subtraction → exact fixed-point grid accumulation. The driver-side
    inverse FFT (residual_image) is O(n_pix log n_pix) and covered by
    tests/test_fft_residual.py."""
    import numpy as np

    vis = tpch_ms.vis_table(spark, sf_dir)
    image = np.zeros((8, 8))
    image[1, 2] = 1.0
    image[5, 3] = 0.5
    g = fft_op.residual_grid(vis, image, cell=10.0)
    return g.select(
        "u_cell",
        "v_cell",
        (F.col("r_re_q") / F.lit(1e6)).alias("res_re"),
        (F.col("r_im_q") / F.lit(1e6)).alias("res_im"),
        (F.col("w_q") / F.lit(1e6)).alias("wsum"),
    ).orderBy("u_cell", "v_cell")


_FFT_PSF_ORACLE = _with_ms(
    """
    , grid AS (
      SELECT ((CAST(ROUND(u / 10.0) AS BIGINT) % 32) + 32) % 32 AS u_cell,
             ((CAST(ROUND(v / 10.0) AS BIGINT) % 32) + 32) % 32 AS v_cell,
             SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) / 1000000.0 AS g_re
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2
    ), wsum AS (
      SELECT SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) / 1000000.0 AS w
      FROM vis WHERE NOT (flag OR flag_row)
    ), pix AS (
      SELECT CAST(y.range AS INT) AS y, CAST(x.range AS INT) AS x
      FROM range(32) y, range(32) x
    )
    SELECT p.y, p.x,
           round(SUM(g.g_re * cos(2 * pi() * (g.v_cell * p.y / 32.0 + g.u_cell * p.x / 32.0)))
                 / MAX(w.w), 6) AS value
    FROM pix p CROSS JOIN grid g CROSS JOIN wsum w
    GROUP BY p.y, p.x
    ORDER BY p.y, p.x
    """
)


@register("fft_psf_image", _FFT_PSF_ORACLE)
def fft_psf_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-spread function image: the dirty-image path with unit
    visibilities (weights-only grid → driver FFT → normalize), the third
    member of the imaging triple next to fft_dirty_image and
    fft_residual_grid (reference wgridder vis2im with vis≡1; PSF peak
    normalizes to 1 at the phase centre)."""
    vis = tpch_ms.vis_table(spark, sf_dir).withColumn(
        "vis_re", F.lit(1.0)
    ).withColumn("vis_im", F.lit(0.0))
    img, wsum = fft_op.dirty_image(vis, nx=32, ny=32)
    return _image_pixels(spark, img)


_PSF_FIT_ORACLE = f"""
  WITH px AS (SELECT y, x, value FROM ({_FFT_PSF_ORACLE})),
  peak AS (SELECT y AS py, x AS qx FROM px ORDER BY abs(value) DESC, y, x LIMIT 1),
  q AS (SELECT y, x, CAST(ROUND(abs(value) * 1000000) AS BIGINT) AS wq, value FROM px),
  s AS (
    SELECT CAST(SUM(q.wq) AS BIGINT) AS a,
           CAST(SUM(q.wq * (q.y - pk.py) * (q.y - pk.py)) AS BIGINT) AS mu,
           CAST(SUM(q.wq * (q.x - pk.qx) * (q.x - pk.qx)) AS BIGINT) AS mv
    FROM q, peak pk
  )
  SELECT (SELECT round(px.value, 6) FROM px, peak pk
          WHERE px.y = pk.py AND px.x = pk.qx) AS amp,
         round(sqrt(CAST(mu AS DOUBLE) / a), 6) AS sigma_u,
         round(sqrt(CAST(mv AS DOUBLE) / a), 6) AS sigma_v
  FROM s
"""


@register("psf_gaussian_fit", _PSF_FIT_ORACLE)
def psf_gaussian_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-beam (restoring beam) fit from the PSF second moments —
    the restore-prep step of Hogbom CLEAN (reference
    deconv/hogbom/clean.py:40-72). Weights are quantized (1e-6) over the
    6dp-rounded PSF pixels so both engines sum identical integers; the
    peak tie-break is (|value| desc, y, x)."""
    vis = tpch_ms.vis_table(spark, sf_dir).withColumn(
        "vis_re", F.lit(1.0)
    ).withColumn("vis_im", F.lit(0.0))
    img, _ = fft_op.dirty_image(vis, nx=32, ny=32)
    p = [
        (y, x, round(float(img[y, x]), 6))
        for y in range(img.shape[0])
        for x in range(img.shape[1])
    ]
    # peak tie-break: |value| desc, then smallest y, x (matches the oracle)
    py, qx, amp = sorted(p, key=lambda t: (-abs(t[2]), t[0], t[1]))[0]
    wq = [(y, x, int(round(abs(v) * 1000000))) for y, x, v in p]
    a = sum(w for _, _, w in wq)
    mu = sum(w * (y - py) ** 2 for y, _, w in wq)
    mv = sum(w * (x - qx) ** 2 for _, x, w in wq)
    return local_frame(
        spark,
        [(round(amp, 6), round((mu / a) ** 0.5, 6), round((mv / a) ** 0.5, 6))],
        "amp double, sigma_u double, sigma_v double",
    )


_UVDIST_PROFILE_ORACLE = _with_ms(
    """
    SELECT CAST(FLOOR(sqrt(u*u + v*v) / 10.0) AS BIGINT) AS bin,
           COUNT(*) AS n_rows,
           round((SUM(CAST(ROUND(sqrt(vis_re*vis_re + vis_im*vis_im) * 1000000)
                           AS BIGINT)) / 1000000.0) / COUNT(*), 9) AS mean_amp
    FROM vis GROUP BY 1 ORDER BY bin
    """
)


@register("uvdist_radial_profile", _UVDIST_PROFILE_ORACLE)
def uvdist_radial_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial uv-distance amplitude profile (10-wavelength bins): row
    counts + mean |V| per annulus — the source-structure quick-look
    (resolved sources decline with uv distance). sqrt/floor/division are
    IEEE-exact on identical doubles; the amplitude mean is a 1e6
    fixed-point reduction. One partial-agg shuffle at bin cardinality."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir)
    amp = F.sqrt(F.col("vis_re") * F.col("vis_re") + F.col("vis_im") * F.col("vis_im"))
    binc = F.floor(F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v")) / 10.0)
    return (
        vis.groupBy(binc.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (qsum(amp, 1e6)).alias("amp_q"),
        )
        .select(
            "bin", "n_rows",
            F.round((F.col("amp_q") / F.lit(1000000.0)) / F.col("n_rows"), 9).alias(
                "mean_amp"
            ),
        )
        .orderBy("bin")
    )


_WSTACK_OCCUPANCY_ORACLE = _with_ms(
    """
    , planes AS (
      SELECT CAST(ROUND(w / 2.0) AS BIGINT) AS w_plane,
             ((CAST(ROUND(u / 10.0) AS BIGINT) % 32) + 32) % 32 AS u_cell,
             ((CAST(ROUND(v / 10.0) AS BIGINT) % 32) + 32) % 32 AS v_cell,
             weight
      FROM vis WHERE NOT (flag OR flag_row)
    ), cells AS (
      SELECT w_plane, u_cell, v_cell, COUNT(*) AS n_rows,
             SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) AS wq
      FROM planes GROUP BY 1, 2, 3
    )
    SELECT w_plane, COUNT(*) AS n_cells, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           round(CAST(SUM(wq) AS DOUBLE) / 1000000.0, 6) AS weight_sum
    FROM cells GROUP BY w_plane ORDER BY w_plane
    """
)


@register("wstack_plane_occupancy", _WSTACK_OCCUPANCY_ORACLE)
def wstack_plane_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w-stacking workload report: rows, occupied cells, and weight per
    w-plane (the partition-sizing input for the wgridder plane loop —
    reference vis2im.py:16-130 picks nplanes from exactly this spread).
    Same grid quantization as the wstack imaging query; two partial
    aggs, cell then plane cardinality."""
    from codex_africanus_spark.functions.deterministic import qsum

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    cells = (
        vis.groupBy(
            F.round(F.col("w") / F.lit(2.0)).cast("long").alias("w_plane"),
            F.pmod(F.round(F.col("u") / F.lit(10.0)).cast("long"), F.lit(32)).alias("u_cell"),
            F.pmod(F.round(F.col("v") / F.lit(10.0)).cast("long"), F.lit(32)).alias("v_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"), qsum(F.col("weight"), 1e6).alias("wq"))
    )
    return (
        cells.groupBy("w_plane")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_rows").alias("n_rows"),
            F.round(F.sum("wq").cast("double") / F.lit(1000000.0), 6).alias("weight_sum"),
        )
        .orderBy("w_plane")
    )


_BRIGGS_SWEEP = (("m1", -1.0), ("r0", 0.0), ("p1", 1.0))


def _briggs_sweep_oracle() -> str:
    parts = []
    for tag, robust in _BRIGGS_SWEEP:
        f2 = repr((5.0 * (10.0 ** (-robust))) ** 2)
        parts.append(
            f"round(g.weight / (1.0 + (c.wq / 100.0) * ({f2} * (t.sum_wq / 100.0)"
            f" / (t.sum_wq2 / 10000.0))), 9) AS w_{tag}"
        )
    sel = ",\n             ".join(parts)
    aggs = []
    for tag, _ in _BRIGGS_SWEEP:
        # w' carries 9 decimals => the 1e9 sum grid is exact; w'^2 needs
        # the finer 1e12 grid or strong-robust settings quantize to zero
        # (whose neff division then dies under ANSI)
        s = f"(SUM(CAST(ROUND(w_{tag} * 1000000000) AS BIGINT)) / 1000000000.0)"
        s2 = f"(SUM(CAST(ROUND((w_{tag} * w_{tag}) * 1000000000000) AS BIGINT)) / 1000000000000.0)"
        aggs.append(f"round({s}, 6) AS wsum_{tag}")
        aggs.append(
            f"CASE WHEN {s2} <> 0.0 THEN round(({s} * {s}) / {s2}, 6) END AS neff_{tag}"
        )
    return _with_ms(
        f"""
        , gated AS (
          SELECT row_id, weight,
                 CAST(FLOOR(u / 10.0) AS BIGINT) AS u_cell,
                 CAST(FLOOR(v / 10.0) AS BIGINT) AS v_cell
          FROM vis WHERE NOT (flag OR flag_row)
        ), cellw AS (
          SELECT u_cell, v_cell, SUM(CAST(ROUND(weight * 100) AS BIGINT)) AS wq
          FROM gated GROUP BY u_cell, v_cell
        ), totals AS (SELECT SUM(wq) AS sum_wq, SUM(wq * wq) AS sum_wq2 FROM cellw)
        , wts AS (
          SELECT {sel}
          FROM gated g
          JOIN cellw c ON g.u_cell = c.u_cell AND g.v_cell = c.v_cell
          CROSS JOIN totals t
        )
        SELECT {", ".join(aggs)} FROM wts
        """
    )


@register("briggs_robust_sweep", _briggs_sweep_oracle())
def briggs_robust_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Briggs robust-parameter sensitivity sweep (robust = −1, 0, +1 in
    ONE pass): total imaging weight and effective visibility count
    (Σw')²/Σw'² per setting — the uniform↔natural trade-off curve an
    imager reads before picking robust. The cell-weight table and its
    totals are computed once; the three settings differ only in a
    constant, so they ride the same broadcast join as projections."""
    from codex_africanus_spark.functions.deterministic import qsum, qsum_wide

    vis = tpch_ms.vis_table(spark, sf_dir)
    gated = vis.filter(~(F.col("flag") | F.col("flag_row"))).select(
        "row_id", "weight",
        F.floor(F.col("u") / 10.0).cast("long").alias("u_cell"),
        F.floor(F.col("v") / 10.0).cast("long").alias("v_cell"),
    )
    # materialize the cell-cardinality table once: it feeds BOTH the
    # totals reduction and the broadcast join-back — without it each
    # consumer re-scans the fact table. localCheckpoint, not persist():
    # cache entries outlive the query (session leak — r8 advice);
    # checkpoint blocks free when this frame is GC'd.
    cellw = gated.groupBy("u_cell", "v_cell").agg(
        qsum(F.col("weight"), 100.0).alias("wq")
    ).localCheckpoint(eager=True)
    totals = cellw.agg(
        F.sum("wq").alias("sum_wq"),
        F.sum(F.col("wq") * F.col("wq")).alias("sum_wq2"),
    )
    j = gated.join(F.broadcast(cellw), ["u_cell", "v_cell"]).crossJoin(
        F.broadcast(totals)
    )
    wcols = []
    for tag, robust in _BRIGGS_SWEEP:
        f2_num = (5.0 * (10.0 ** (-robust))) ** 2
        f2 = F.lit(f2_num) * (F.col("sum_wq") / 100.0) / (F.col("sum_wq2") / 10000.0)
        wcols.append(
            F.round(
                F.col("weight") / (F.lit(1.0) + (F.col("wq") / 100.0) * f2), 9
            ).alias(f"w_{tag}")
        )
    wts = j.select(*wcols)
    aggs, outs = [], []
    for tag, _ in _BRIGGS_SWEEP:
        aggs.append((qsum(F.col(f"w_{tag}"), 1e9) / F.lit(1e9)).alias(f"s_{tag}"))
        # r11 sf1.0 fork: the 1e12-grid square sum reaches ~1.5e20 at
        # sf1 — BIGINT overflow under ANSI. qsum_wide's DECIMAL(38,0)
        # accumulator matches DuckDB's HUGEINT SUM exactly.
        aggs.append(
            (
                qsum_wide(F.col(f"w_{tag}") * F.col(f"w_{tag}"), 1e12)
                .cast("double") / F.lit(1e12)
            ).alias(f"s2_{tag}")
        )
        outs.append(F.round(F.col(f"s_{tag}"), 6).alias(f"wsum_{tag}"))
        outs.append(
            F.when(
                F.col(f"s2_{tag}") != 0.0,
                F.round(
                    (F.col(f"s_{tag}") * F.col(f"s_{tag}")) / F.col(f"s2_{tag}"), 6
                ),
            ).alias(f"neff_{tag}")
        )
    return wts.agg(*aggs).select(*outs)


# The per-antenna pointing model — ONE definition each side (four copies
# would drift exactly the way the _beam_lg docstring warns about):
# l_eff = l·(1 + a/100) + (a−3)·0.002,  m_eff = m·(1 + a/100) + ((3a)%7−3)·0.0015
_POINTING_PAIRS_SQL = f"""
          SELECT s.source_id, a.antenna, c.chan,
                 s.l * (CAST(1.0 AS DOUBLE) + a.antenna * CAST(0.01 AS DOUBLE))
                   + (a.antenna - 3) * CAST(0.002 AS DOUBLE) AS l,
                 s.m * (CAST(1.0 AS DOUBLE) + a.antenna * CAST(0.01 AS DOUBLE))
                   + ((a.antenna * 3) % 7 - 3) * CAST(0.0015 AS DOUBLE) AS m,
                 856000000.0 * (1 + c.chan / 8.0) AS freq
          FROM src s, ant a, chan c
        """


def _pointing_beam_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_id, antenna, chan, bg): the trilinearly-sampled
    per-antenna displaced/scaled beam, rounded to the shared 9dp grid —
    the Spark twin of _POINTING_PAIRS_SQL, consumed by both
    beam_pointing_error_sampling and beam_dde_full_predict."""
    src = tpch_ms.source_table(spark, sf_dir)
    ants = tpch_ms.antenna_table(spark).select("antenna")
    chan = spark.range(7).select(F.col("id").cast("int").alias("chan"))
    scale = F.lit(1.0) + F.col("antenna") * F.lit(0.01)
    dl = (F.col("antenna") - 3) * F.lit(0.002)
    dm = ((F.col("antenna") * 3) % 7 - 3) * F.lit(0.0015)
    pairs = src.crossJoin(ants).crossJoin(chan).select(
        "source_id", "antenna", "chan",
        (F.col("l") * scale + dl).alias("l"),
        (F.col("m") * scale + dm).alias("m"),
        (F.lit(tpch_ms.REF_FREQ) * (1 + F.col("chan") / F.lit(8.0))).alias(
            "frequency"
        ),
    )
    return beam_op.beam_cube_dde(pairs, beam_op.make_test_beam_cube()).select(
        "source_id", "antenna", "chan",
        F.round(F.col("beam_gain"), 9).alias("bg"),
    )


def _beam_pointing_oracle() -> str:
    """Pointing-error/antenna-scaling beam oracle: the shared trilinear
    machinery over per-(source, ANTENNA, chan) effective (l, m) —
    l·scale_a + δl_a with deterministic per-antenna offsets (all within
    the grid interior, so no clamp edge cases)."""
    return _with_ms(
        f"""
        , ant AS ({tpch_ms.ANTENNA_SQL})
        {_beam_gain_ctes(_POINTING_PAIRS_SQL)}
        SELECT source_id, antenna, chan,
               round({_beam_trilinear_total()}, 9) AS beam_gain
        FROM wts ORDER BY source_id, antenna, chan
        """
    )


@register("beam_pointing_error_sampling", _beam_pointing_oracle())
def beam_pointing_error_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ANTENNA beam sampling with pointing errors and antenna
    scaling — the full signature of the reference's beam_cube_dde
    (fast_beam_cubes.py:58-301 takes point_errors [time, ant, chan, 2]
    and antenna_scaling [ant, chan, 2]; here deterministic per-antenna
    δl/δm offsets and a per-antenna dish-size scale): each antenna sees
    the source through its OWN displaced, scaled beam. The sampled
    frame stays (n_src × n_ant × n_chan) — tiny broadcast side at any
    fact-table scale."""
    return _pointing_beam_table(spark, sf_dir).select(
        "source_id", "antenna", "chan",
        F.col("bg").alias("beam_gain"),
    ).orderBy("source_id", "antenna", "chan")


def _beam_dde_full_predict_oracle() -> str:
    """Full per-antenna beam DDE predict mirror: the pointing-error beam
    CTE (per source, antenna, chan) joined into the coherency once per
    baseline END, then the 1e-6 fixed-point source reduction."""
    return _with_ms(
        f"""
        , ant AS ({tpch_ms.ANTENNA_SQL})
        {_beam_gain_ctes(_POINTING_PAIRS_SQL)}
        , beamg AS (
          SELECT source_id, antenna, chan,
                 round({_beam_trilinear_total()}, 9) AS bg
          FROM wts
        ), coh AS (
          SELECT v.row_id, v.antenna1, v.antenna2, v.chan,
                 ((b1.bg * b2.bg) * (s.flux_i + s.flux_q)) AS fxx,
                 ((b1.bg * b2.bg) * (s.flux_i - s.flux_q)) AS fyy,
                 -2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency AS theta
          FROM vis v
          JOIN beamg b1 ON b1.chan = v.chan AND b1.antenna = v.antenna1
          JOIN beamg b2 ON b2.chan = v.chan AND b2.antenna = v.antenna2
                       AND b2.source_id = b1.source_id
          JOIN src s ON s.source_id = b1.source_id
        )
        SELECT row_id, antenna1, antenna2, chan,
               SUM(CAST(ROUND(fxx * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS xx_re,
               SUM(CAST(ROUND(fxx * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS xx_im,
               SUM(CAST(ROUND(fyy * cos(theta) * 1000000) AS BIGINT)) / 1000000.0 AS yy_re,
               SUM(CAST(ROUND(fyy * sin(theta) * 1000000) AS BIGINT)) / 1000000.0 AS yy_im
        FROM coh
        GROUP BY row_id, antenna1, antenna2, chan
        """
    )


@register("beam_dde_full_predict", _beam_dde_full_predict_oracle())
def beam_dde_full_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL beam-DDE predict semantics (predict.py:86-150
    dde arguments + fast_beam_cubes.py:58-301): each baseline end applies
    its OWN antenna's displaced, scaled beam — E_p·B·E_qᴴ with real
    scalar E per (source, antenna, chan), over the I,Q-subset XX/YY
    brightness and the fixed-point source reduction.

    Plan (r12 rebuild — the r11 verdict's one drifting headline): the
    (src × ant × chan) beam table (1225 rows) is sampled once by the
    pandas UDF, then pre-joined DRIVER-SIDE into a single
    (antenna1, antenna2, chan) → per-source (l, m, n, fxx, fyy) table
    (src × ant² × chan = 8575 rows) folding BOTH baseline ends AND the
    source brightness — so the fact expansion pays ONE broadcast-hash
    probe per output coherency instead of the former b1/b2/src chain
    (three compound-key probes + row copies at source×vis grain, 5× the
    predict class at sf1/sf10; the Arrow hop was never the cost — the
    UDF samples 1225 rows). fxx/fyy keep the exact fact-side operation
    order ((bg1·bg2)·xx, left-assoc) so results are bit-identical to the
    three-join form and the unchanged oracle."""
    from codex_africanus_spark.functions.stokes import convert_general
    from codex_africanus_spark.sources.tables import fan_out

    src = tpch_ms.source_table(spark, sf_dir)
    bg = _pointing_beam_table(spark, sf_dir)
    corrs = convert_general(
        {"I": F.col("flux_i"), "Q": F.col("flux_q")}, ["XX", "YY"]
    )
    src_corr = src.select(
        "source_id", "l", "m", "n",
        corrs["XX"].re.alias("xx"), corrs["YY"].re.alias("yy"),
    )
    bpair = (
        bg.select("source_id", F.col("antenna").alias("antenna1"),
                  "chan", F.col("bg").alias("bg1"))
        .join(
            bg.select("source_id", F.col("antenna").alias("antenna2"),
                      "chan", F.col("bg").alias("bg2")),
            ["source_id", "chan"],
        )
        .join(src_corr, "source_id")
        .select(
            "antenna1", "antenna2", "chan", "l", "m", "n",
            ((F.col("bg1") * F.col("bg2")) * F.col("xx")).alias("fxx"),
            ((F.col("bg1") * F.col("bg2")) * F.col("yy")).alias("fyy"),
        )
    )
    vis = tpch_ms.vis_table(spark, sf_dir)
    j = fan_out(vis).join(F.broadcast(bpair), ["antenna1", "antenna2", "chan"])
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"),
                   F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"),
    )
    coh = j.select(
        "row_id", "antenna1", "antenna2", "chan",
        (F.col("fxx") * F.cos(theta)).alias("cxx_re"),
        (F.col("fxx") * F.sin(theta)).alias("cxx_im"),
        (F.col("fyy") * F.cos(theta)).alias("cyy_re"),
        (F.col("fyy") * F.sin(theta)).alias("cyy_im"),
    )
    return coh.groupBy("row_id", "antenna1", "antenna2", "chan").agg(
        (qsum(F.col("cxx_re"), 1e6) / F.lit(1e6)).alias("xx_re"),
        (qsum(F.col("cxx_im"), 1e6) / F.lit(1e6)).alias("xx_im"),
        (qsum(F.col("cyy_re"), 1e6) / F.lit(1e6)).alias("yy_re"),
        (qsum(F.col("cyy_im"), 1e6) / F.lit(1e6)).alias("yy_im"),
    )


_FW_NF = 4        # facets


_FW_CELL = 10.0   # uv cell (wstack grid convention)


_FW_WSTEP = 3.0   # w-projection support growth step


_FW_SMAX = 4      # support cap


def _facet_wproj_oracle() -> str:
    from codex_africanus_spark.functions.uvw import uvw_rotate_sql

    args = (
        "v.u", "v.v", "v.w", "0.0", "((-17) / 25.0)",
        "f.ra_f", "f.dec_f",
    )
    ru, rv, rw = uvw_rotate_sql(*args)
    return _with_ms(
        f"""
        , facets AS (
          SELECT CAST(r.range AS BIGINT) AS facet_id,
                 (r.range - 1.5) / 50.0 AS ra_f,
                 ((-17) / 25.0) + ((r.range % 2) - 0.5) / 40.0 AS dec_f
          FROM range({_FW_NF}) r
        ),
        rot AS (
          SELECT f.facet_id,
                 round({ru}, 6) AS u_r,
                 round({rv}, 6) AS v_r,
                 round({rw}, 6) AS w_r,
                 v.weight
          FROM vis v, facets f
          WHERE NOT (v.flag OR v.flag_row)
        ),
        cells AS (
          SELECT facet_id,
                 LEAST({_FW_SMAX}, 1 + CAST(FLOOR(ABS(w_r) / {_FW_WSTEP!r}) AS BIGINT)) AS support,
                 CAST(FLOOR(u_r / {_FW_CELL!r}) AS BIGINT) AS u_cell,
                 CAST(FLOOR(v_r / {_FW_CELL!r}) AS BIGINT) AS v_cell,
                 COUNT(*) AS n_rows,
                 SUM(CAST(ROUND(weight * 1000000) AS BIGINT)) AS wq
          FROM rot GROUP BY 1, 2, 3, 4
        )
        SELECT facet_id, support,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               COUNT(*) AS n_cells,
               CAST(SUM(n_rows) * (2 * support + 1) * (2 * support + 1) AS BIGINT)
                 AS n_kernel_visits,
               round(SUM(wq) / 1000000.0, 6) AS weight_sum
        FROM cells GROUP BY facet_id, support
        ORDER BY facet_id, support
        """
    )


@register("facet_wproj_kernel_sweep", _facet_wproj_oracle())
def facet_wproj_kernel_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceting × W-projection workload sweep — the planning query an
    imaging pipeline runs before gridding: every visibility is rotated
    into each facet's tangent frame (perleypolyhedron
    baseline_transform_policies uvw_rotate), assigned the w-dependent
    kernel support level a W-projection gridder would use (support
    grows with |w'| — the defining W-projection cost driver), and the
    per-(facet, support) workload is reported as rows, occupied cells,
    kernel-tap visits (rows × (2s+1)²) and weight. Pairs the facet
    geometry with the gridder policies (r6 verdict suggestion).

    Plan: broadcast 4-row facet table (×NF fact expansion rides the
    scan), rotation trig in codegen quantized at 1e-6, then the
    wstack-style two-stage agg (cell cardinality, then facet×support).
    At 100 TB: shuffle volume is O(#occupied cells), never O(rows)."""
    from codex_africanus_spark.functions.deterministic import qsum
    from codex_africanus_spark.functions.uvw import uvw_rotate
    from codex_africanus_spark.sources.tables import fan_out

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    facets = spark.range(_FW_NF).select(
        F.col("id").cast("long").alias("facet_id"),
        ((F.col("id") - 1.5) / F.lit(50.0)).alias("ra_f"),
        (
            F.lit(-17) / F.lit(25.0)
            + ((F.col("id") % 2) - 0.5) / F.lit(40.0)
        ).alias("dec_f"),
    )
    j = fan_out(vis).crossJoin(F.broadcast(facets))
    ru, rv, rw = uvw_rotate(
        F.col("u"), F.col("v"), F.col("w"),
        F.lit(0.0), F.lit(-17) / F.lit(25.0),
        F.col("ra_f"), F.col("dec_f"),
    )
    rot = j.select(
        "facet_id",
        F.round(ru, 6).alias("u_r"),
        F.round(rv, 6).alias("v_r"),
        F.round(rw, 6).alias("w_r"),
        "weight",
    )
    cells = rot.groupBy(
        "facet_id",
        F.least(
            F.lit(_FW_SMAX),
            F.lit(1) + F.floor(F.abs(F.col("w_r")) / F.lit(_FW_WSTEP)),
        ).alias("support"),
        F.floor(F.col("u_r") / F.lit(_FW_CELL)).cast("long").alias("u_cell"),
        F.floor(F.col("v_r") / F.lit(_FW_CELL)).cast("long").alias("v_cell"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        qsum(F.col("weight"), 1e6).alias("wq"),
    )
    return (
        cells.groupBy("facet_id", "support")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("wq").cast("double") / F.lit(1000000.0), 6).alias(
                "weight_sum"
            ),
        )
        .select(
            "facet_id",
            "support",
            "n_rows",
            "n_cells",
            (
                F.col("n_rows") * (2 * F.col("support") + 1)
                * (2 * F.col("support") + 1)
            ).alias("n_kernel_visits"),
            "weight_sum",
        )
        .orderBy("facet_id", "support")
    )


_BEAM_GRID_PAIRS = """
          SELECT i.range AS gi, j.range AS gj,
                 (i.range - 8) / 100.0 AS l,
                 (j.range - 8) / 100.0 AS m,
                 856000000.0 AS freq
          FROM range(17) i, range(17) j
        """


def _beam_map_oracle() -> str:
    return _with_ms(
        f"""{_beam_gain_ctes(_BEAM_GRID_PAIRS)}
        SELECT gi, gj, l, m, round({_beam_trilinear_total()}, 9) AS beam_gain
        FROM wts ORDER BY gi, gj
        """
    )


@register("primary_beam_attenuation_map", _beam_map_oracle())
def primary_beam_attenuation_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-beam attenuation MAP: the beam cube sampled on a regular
    17×17 (l, m) grid at the reference frequency — the mosaic-planning /
    image-correction product (pbcor), as opposed to the per-source
    sampling query. Same broadcast cube + Arrow UDF sampler and the
    same shared trilinear oracle CTEs (one arithmetic definition), just
    a generated grid instead of the catalogue — the grid frame is 289
    rows, so the whole query is sampler-bound."""
    gi = spark.range(17).select(F.col("id").alias("gi"))
    gj = spark.range(17).select(F.col("id").alias("gj"))
    pairs = gi.crossJoin(gj).select(
        "gi", "gj",
        ((F.col("gi") - 8) / F.lit(100.0)).alias("l"),
        ((F.col("gj") - 8) / F.lit(100.0)).alias("m"),
        F.lit(856000000.0).alias("frequency"),
    )
    out = beam_op.beam_cube_dde(pairs, beam_op.make_test_beam_cube())
    return out.select(
        "gi", "gj", "l", "m", F.round(F.col("beam_gain"), 9).alias("beam_gain")
    ).orderBy("gi", "gj")


@register("spectral_regrid_linear", _with_ms(cal_op.REGRID_SQL))
def spectral_regrid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASA cvel/mstransform spectral regridding: each (time, baseline)
    spectrum resampled onto a quarter-channel-offset target grid by
    linear interpolation between bracketing channels — the affine
    frequency axis turns the as-of bracket into closed-form arithmetic,
    and the dyadic frac makes the integer lerp exact (4x-scaled BIGINT
    outputs, no float at all)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return cal_op.spectral_regrid_linear(vis).orderBy(
        "time", "antenna1", "antenna2", "tbin_out"
    )


_ANNULUS_W = 20.0  # uv-distance annulus width


_UV_NOISE_PROFILE_ORACLE = _with_ms(
    f"""
    , spq AS (
      SELECT time, antenna1, antenna2, chan,
             SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS re_q,
             SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS im_q,
             MIN(CAST(ROUND(u * 1000000.0) AS BIGINT)) AS uq,
             MIN(CAST(ROUND(v * 1000000.0) AS BIGINT)) AS vq
      FROM vis GROUP BY 1, 2, 3, 4
    ),
    diffs AS (
      SELECT CAST(FLOOR(sqrt(CAST(uq AS DOUBLE) * uq + CAST(vq AS DOUBLE) * vq)
                        / 1000000.0 / {_ANNULUS_W!r}) AS BIGINT) AS annulus,
             re_q - lag(re_q) OVER w AS dr,
             im_q - lag(im_q) OVER w AS di
      FROM spq
      WINDOW w AS (PARTITION BY time, antenna1, antenna2 ORDER BY chan)
    )
    SELECT annulus, CAST(COUNT(*) AS BIGINT) AS n_diffs,
           CAST(ROUND(CAST(SUM(CAST(dr AS HUGEINT) * dr
                               + CAST(di AS HUGEINT) * di) AS DOUBLE)
                      / (4 * COUNT(*)) / 1000000000000.0
                      * 1000000.0) AS BIGINT) AS sigma2_micro
    FROM diffs WHERE dr IS NOT NULL
    GROUP BY annulus ORDER BY annulus
    """
)


@register("uv_annulus_noise_profile", _UV_NOISE_PROFILE_ORACLE)
def uv_annulus_noise_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial noise profile: the adjacent-channel-difference noise
    estimator binned by uv-distance annulus — short spacings catching
    extended emission / RFI read hotter than the thermal floor, which
    is exactly what this plot exposes. The spectra collapse carries a
    deterministic representative (component-wise MIN) uv per
    (time, baseline, chan) — the uvw-closure representative rule —
    so the annulus key is engine-exact; squared diffs accumulate in
    decimal(38,0)."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = tpch_ms.vis_table(spark, sf_dir)
    sp = vis.groupBy("time", "antenna1", "antenna2", "chan").agg(
        F.sum(quantize(F.col("vis_re"), 1e6)).alias("re_q"),
        F.sum(quantize(F.col("vis_im"), 1e6)).alias("im_q"),
        F.min(quantize(F.col("u"), 1e6)).alias("uq"),
        F.min(quantize(F.col("v"), 1e6)).alias("vq"),
    )
    w = W.partitionBy("time", "antenna1", "antenna2").orderBy("chan")
    annulus = F.floor(
        F.sqrt(
            F.col("uq").cast("double") * F.col("uq")
            + F.col("vq").cast("double") * F.col("vq")
        )
        / F.lit(1e6)
        / F.lit(_ANNULUS_W)
    ).cast("long")
    diffs = sp.select(
        annulus.alias("annulus"),
        (F.col("re_q") - F.lag("re_q").over(w)).alias("dr"),
        (F.col("im_q") - F.lag("im_q").over(w)).alias("di"),
    ).filter(F.col("dr").isNotNull())
    g = diffs.groupBy("annulus").agg(
        F.count(F.lit(1)).alias("n_diffs"),
        F.sum(
            F.col("dr").cast(dec) * F.col("dr")
            + F.col("di").cast(dec) * F.col("di")
        ).alias("ss"),
    )
    return g.select(
        "annulus", "n_diffs",
        quantize(
            F.col("ss").cast("double") / (F.lit(4) * F.col("n_diffs"))
            / F.lit(1e12),
            1e6,
        ).alias("sigma2_micro"),
    ).orderBy("annulus")


# Gaussian uv-taper factors exp(-mid_k^2 / (2*50^2)) at annulus midpoints
# mid_k = (k+0.5)*10, precomputed in Python (ppb integers) and interpolated
# into BOTH engines — no exp() ever runs inside either engine.
_TAPER_PPB = [
    995012479, 955997482, 882496903, 782704538, 666976811,
    546074427, 429557358, 324652467, 235746077, 164474457,
    110250525, 71005354, 43936934, 26121410, 14920786,
]


_TAPER_CASE = (
    "CASE annulus "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in enumerate(_TAPER_PPB))
    + " ELSE 0 END"
)


_UV_TAPER_ORACLE = _with_ms(
    f"""
    , samp AS (
      SELECT CAST(FLOOR(sqrt(u*u + v*v) / 10.0) AS BIGINT) AS annulus,
             CAST(weight AS BIGINT) AS w
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    tapered AS (
      SELECT annulus, w, w * {_TAPER_CASE.replace("annulus", "samp.annulus")} AS wt_ppb
      FROM samp
    )
    SELECT annulus, COUNT(*) AS n_samples,
           CAST(SUM(w) AS BIGINT) AS w_nat_sum,
           CAST(SUM(wt_ppb) AS BIGINT) AS w_tap_ppb_sum,
           CAST(SUM(CAST(wt_ppb AS HUGEINT) * wt_ppb) // 1000000000 AS BIGINT)
             AS w_tap_sq_e9,
           {_TAPER_CASE.replace("annulus", "tapered.annulus")} AS taper_ppb
    FROM tapered GROUP BY annulus ORDER BY annulus
    """
)


@register("uv_taper_response", _UV_TAPER_ORACLE)
def uv_taper_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian uv-taper response audit: per uv-annulus natural vs
    tapered imaging weight (the resolution-vs-sensitivity trade every
    imaging run tunes; cf. the density-grid weighting family,
    briggs_robust_weights). The taper factors are Python-precomputed ppb
    literals at annulus midpoints, so no transcendental runs in either
    engine; w^2 sums form in DECIMAL(38,0) (they overflow int64).
    Map-side partial agg onto <=15 annuli — scan-resident at 100 TB."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(~(F.col("flag") | F.col("flag_row")))
    ann = F.floor(F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v")) / F.lit(10.0)).cast("long")
    d = vis.select(ann.alias("annulus"), F.col("weight").cast("long").alias("w"))
    expr = "CASE annulus " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in enumerate(_TAPER_PPB)
    ) + " ELSE 0 END"
    d = d.select("annulus", "w", (F.col("w") * F.expr(expr)).alias("wt_ppb"))
    return (
        d.groupBy("annulus")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("w").alias("w_nat_sum"),
            F.sum("wt_ppb").alias("w_tap_ppb_sum"),
            # accumulate in decimal(38,0) (squares overflow int64), then
            # emit DIV 1e9 as exact BIGINT — a decimal->double cast here
            # forks 1 ULP between Java BigDecimal and DuckDB HUGEINT
            # rounding (found by the sf0.1 sweep)
            F.expr(
                "CAST(SUM(CAST(wt_ppb AS DECIMAL(38,0)) * wt_ppb)"
                " DIV 1000000000 AS BIGINT)"
            ).alias("w_tap_sq_e9"),
        )
        .select(
            "annulus", "n_samples", "w_nat_sum", "w_tap_ppb_sum", "w_tap_sq_e9",
            F.expr(expr).alias("taper_ppb"),
        )
        .orderBy("annulus")
    )


# Algebraic primary-beam model (1 - r^2/R^2)^2 clamped at 0 — polynomial,
# so both engines evaluate identical doubles (no exp/cos in-engine); R
# chosen so the outermost catalogue sources fall below the pbcor cutoff.
_PB_R2 = 0.06 * 0.06


_PB_CUTOFF = 0.04


_PBCOR_ORACLE = _with_ms(
    f"""
    , gated AS (SELECT * FROM vis WHERE NOT (flag OR flag_row)),
    img AS (
      -- trig on the 1e-6 grid, mirroring vis_to_im (r9 sf1.0 fork fix)
      SELECT s.source_id AS source_id, v.chan AS chan,
             SUM(CAST(ROUND((CAST(ROUND(cos(2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0 * v.vis_re
                           - CAST(ROUND(sin(2.0958450219516816e-08 * (v.u*s.l + v.v*s.m + v.w*(s.n-1.0)) * v.frequency) * 1000000.0) AS BIGINT) / 1000000.0 * v.vis_im)
                      * 1000000) AS BIGINT)) / 1000000.0 AS image
      FROM gated v, src s
      GROUP BY s.source_id, v.chan
    ),
    beam AS (
      SELECT source_id,
             CASE WHEN 1.0 - (l*l + m*m) / {_PB_R2!r} > 0.0
                  THEN (1.0 - (l*l + m*m) / {_PB_R2!r})
                     * (1.0 - (l*l + m*m) / {_PB_R2!r})
                  ELSE 0.0 END AS bg
      FROM src
    )
    SELECT i.source_id AS source_id, i.chan AS chan, i.image AS image,
           CAST(ROUND(b.bg * 1000000000.0) AS BIGINT) AS beam_gain_q9,
           CASE WHEN b.bg >= {_PB_CUTOFF!r}
                THEN CAST(ROUND(i.image / b.bg * 1000000.0) AS BIGINT)
                ELSE NULL END AS pbcor_q6,
           CASE WHEN b.bg >= {_PB_CUTOFF!r} THEN 0 ELSE 1 END AS masked
    FROM img i JOIN beam b ON b.source_id = i.source_id
    ORDER BY source_id, chan
    """
)


@register("dft_image_pbcor", _PBCOR_ORACLE)
def dft_image_pbcor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-beam correction of the adjoint-DFT image (CASA pbcor):
    each (source, chan) image value divides by the beam gain at its
    (l, m), masked NULL below the standard pblimit-style cutoff — flux
    scales are only trustworthy inside the beam (the image-plane
    counterpart of the reference's beam sampling,
    rime/fast_beam_cubes.py:9-135). The beam model is the
    algebraic (1 - r^2/R^2)^2 taper (polynomial: bit-identical across
    engines), evaluated on the 25-row source dim and broadcast; the
    correction is a dimension-side join after the DFT reduction, so
    pbcor adds ZERO fact-table work at any scale."""
    from codex_africanus_spark.operators import dft as dft_op2

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    img = dft_op2.vis_to_im(vis, src).select("source_id", "chan", "image")
    r2 = F.col("l") * F.col("l") + F.col("m") * F.col("m")
    raw = F.lit(1.0) - r2 / F.lit(_PB_R2)
    bg = F.when(raw > 0.0, raw * raw).otherwise(F.lit(0.0))
    beam = src.select("source_id", bg.alias("bg"))
    v6 = F.col("image") / F.col("bg") * F.lit(1e6)
    return (
        img.join(F.broadcast(beam), "source_id")
        .select(
            "source_id",
            "chan",
            "image",
            (F.col("bg") * F.lit(1e9) + F.lit(0.5)).cast("long").alias("beam_gain_q9"),
            F.when(
                F.col("bg") >= F.lit(_PB_CUTOFF),
                (v6 + F.when(v6 >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))).cast("long"),
            ).alias("pbcor_q6"),
            F.when(F.col("bg") >= F.lit(_PB_CUTOFF), 0).otherwise(1).alias("masked"),
        )
        .orderBy("source_id", "chan")
    )


_MFS_ORACLE = _with_ms(
    """
    , g AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS cu,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS cv,
             chan / 8.0 AS x, vis_re, vis_im
      FROM vis WHERE NOT (flag OR flag_row)
    )
    SELECT cu, cv, COUNT(*) AS n_samples,
           CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS t0_re_q,
           CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT) AS t0_im_q,
           CAST(SUM(CAST(ROUND(vis_re * x * 1000000.0) AS BIGINT)) AS BIGINT) AS t1_re_q,
           CAST(SUM(CAST(ROUND(vis_im * x * 1000000.0) AS BIGINT)) AS BIGINT) AS t1_im_q,
           CAST(SUM(CAST(ROUND(vis_re * x * x * 1000000.0) AS BIGINT)) AS BIGINT) AS t2_re_q,
           CAST(SUM(CAST(ROUND(vis_im * x * x * 1000000.0) AS BIGINT)) AS BIGINT) AS t2_im_q
    FROM g GROUP BY cu, cv ORDER BY cu, cv
    """
)


@register("mfs_taylor_term_grids", _MFS_ORACLE)
def mfs_taylor_term_grids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wideband MFS Taylor-term accumulation (wsclean -join-channels
    / CASA mtmfs shape): per uv cell, visibilities accumulate weighted
    by ((nu-nu0)/nu0)^t for t = 0, 1, 2 — the spectral moments the MFS
    deconvolver fits alpha/curvature from (the discrete moments of the
    reference's spectral model, model/spectral/spec_model.py:11-40, fit
    per uv cell instead of per source). x = chan/8 is exact dyadic
    and the powers are explicit multiplies (never pow()), so every term
    is engine-identical; six fixed-point sums in ONE partial-agg pass
    over the fact table onto <=441 cells."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(~(F.col("flag") | F.col("flag_row")))
    x = F.col("chan") / F.lit(8.0)
    g = vis.select(
        F.floor(F.col("u") / F.lit(10.0)).cast("long").alias("cu"),
        F.floor(F.col("v") / F.lit(10.0)).cast("long").alias("cv"),
        x.alias("x"),
        "vis_re",
        "vis_im",
    )
    return (
        g.groupBy("cu", "cv")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(quantize(F.col("vis_re"), 1e6)).alias("t0_re_q"),
            F.sum(quantize(F.col("vis_im"), 1e6)).alias("t0_im_q"),
            F.sum(quantize(F.col("vis_re") * F.col("x"), 1e6)).alias("t1_re_q"),
            F.sum(quantize(F.col("vis_im") * F.col("x"), 1e6)).alias("t1_im_q"),
            F.sum(quantize(F.col("vis_re") * F.col("x") * F.col("x"), 1e6)).alias("t2_re_q"),
            F.sum(quantize(F.col("vis_im") * F.col("x") * F.col("x"), 1e6)).alias("t2_im_q"),
        )
        .orderBy("cu", "cv")
    )


_MFS_ALPHA_ORACLE = _with_ms(
    """
    , g AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS cu,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS cv,
             chan / 8.0 AS x, vis_re
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    cells AS (
      SELECT cu, cv,
             CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS t0,
             CAST(SUM(CAST(ROUND(vis_re * x * 1000000.0) AS BIGINT)) AS BIGINT) AS t1
      FROM g GROUP BY cu, cv
    )
    SELECT cu, cv, t0 AS t0_re_q, t1 AS t1_re_q,
           CASE WHEN abs(t0) >= 1000000
                THEN CAST(ROUND(CAST(t1 AS DOUBLE) / CAST(t0 AS DOUBLE)
                                * 1000000.0) AS BIGINT)
                ELSE NULL END AS alpha_q6,
           CASE WHEN abs(t0) >= 1000000 THEN 0 ELSE 1 END AS masked
    FROM cells ORDER BY cu, cv
    """
)


@register("mfs_alpha_map", _MFS_ALPHA_ORACLE)
def mfs_alpha_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MFS spectral-index map (the mtmfs alpha product):
    per uv cell the Taylor-term ratio t1/t0 estimates the fractional
    spectral slope, masked where |t0| is below the reliability floor
    (the alpha-mask every wideband imager applies — dividing two noise
    values manufactures fake spectral indices). Ratio of two exact
    integers through one double division, quantized — engine-identical;
    the whole map is the MFS partial agg plus a projection."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(~(F.col("flag") | F.col("flag_row")))
    x = F.col("chan") / F.lit(8.0)
    cells = (
        vis.select(
            F.floor(F.col("u") / F.lit(10.0)).cast("long").alias("cu"),
            F.floor(F.col("v") / F.lit(10.0)).cast("long").alias("cv"),
            x.alias("x"),
            "vis_re",
        )
        .groupBy("cu", "cv")
        .agg(
            F.sum(quantize(F.col("vis_re"), 1e6)).alias("t0"),
            F.sum(quantize(F.col("vis_re") * F.col("x"), 1e6)).alias("t1"),
        )
    )
    ok = F.abs(F.col("t0")) >= 1000000
    return cells.select(
        "cu",
        "cv",
        F.col("t0").alias("t0_re_q"),
        F.col("t1").alias("t1_re_q"),
        F.when(
            ok,
            quantize(
                F.col("t1").cast("double") / F.col("t0").cast("double"), 1e6
            ),
        ).alias("alpha_q6"),
        F.when(ok, 0).otherwise(1).alias("masked"),
    ).orderBy("cu", "cv")


# ---------------------------------------------------------------------------
# Round 9: SPECTRAL_WINDOW-change-aware regridding (r8 verdict item 7
# candidate). The observation switches spectral windows on a weekly
# cadence; each window maps channels to sky frequency differently, and
# regridding onto the common target grid must interpolate WITHIN the
# row's window only — never across a window change. Reference anchor:
# the per-SPW chunking of africanus's MS iteration (examples/predict.py
# groups on DATA_DESC_ID) + spectral_regrid_linear's interp kernel.
# Bracket channels and fractions are PYTHON-precomputed literals for
# each (spw, target) — 12 rows interpolated into BOTH engines, so the
# only runtime arithmetic is exact integer sums and one literal-weighted
# blend per cell.
# ---------------------------------------------------------------------------

# (spw, target_idx, target_freq, lo_chan, hi_chan, frac * 1e9)
_SPW_GRID = [
    (0, 0, 900000000.0, 0, 1, 411214953),
    (0, 1, 1000000000.0, 1, 2, 345794393),
    (0, 2, 1100000000.0, 2, 3, 280373832),
    (0, 3, 1200000000.0, 3, 4, 214953271),
    (0, 4, 1300000000.0, 4, 5, 149532710),
    (0, 5, 1400000000.0, 5, 6, 84112150),
    (1, 0, 900000000.0, 0, 1, 87706686),
    (1, 1, 1000000000.0, 0, 1, 986340762),
    (1, 2, 1100000000.0, 1, 2, 884974838),
    (1, 3, 1200000000.0, 2, 3, 783608914),
    (1, 4, 1300000000.0, 3, 4, 682242991),
    (1, 5, 1400000000.0, 4, 5, 580877067),
]

_SPW_VALUES = ", ".join(
    f"({s}, {t}, {f!r}, {lo}, {hi}, {fr})" for s, t, f, lo, hi, fr in _SPW_GRID
)

_SPW_REGRID_ORACLE = _with_ms(
    f"""
    , cells AS (
      SELECT antenna1, antenna2, time,
             CAST(CAST(FLOOR(time / 604800.0) AS BIGINT) % 2 AS INT) AS spw,
             chan,
             CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS rq,
             CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT) AS iq,
             COUNT(*) AS n
      FROM vis WHERE NOT (flag OR flag_row)
      GROUP BY 1, 2, 3, 4, 5
    ),
    grid(spw, target_idx, target_freq, lo_chan, hi_chan, frac9) AS (
      VALUES {_SPW_VALUES}
    ),
    spectra AS (
      SELECT DISTINCT antenna1, antenna2, time, spw FROM cells
    )
    SELECT s.antenna1, s.antenna2, s.time, s.spw, g.target_idx,
           g.target_freq,
           CAST(lo.n + hi.n AS BIGINT) AS n_samples,
           CAST(ROUND((lo.rq / (1000000.0 * lo.n)
                 + (hi.rq / (1000000.0 * hi.n) - lo.rq / (1000000.0 * lo.n))
                   * (g.frac9 / 1000000000.0)) * 1000000.0) AS BIGINT)
             / 1000000.0 AS vis_re_rg,
           CAST(ROUND((lo.iq / (1000000.0 * lo.n)
                 + (hi.iq / (1000000.0 * hi.n) - lo.iq / (1000000.0 * lo.n))
                   * (g.frac9 / 1000000000.0)) * 1000000.0) AS BIGINT)
             / 1000000.0 AS vis_im_rg
    FROM spectra s
    JOIN grid g ON g.spw = s.spw
    JOIN cells lo ON lo.antenna1 = s.antenna1 AND lo.antenna2 = s.antenna2
                 AND lo.time = s.time AND lo.spw = s.spw
                 AND lo.chan = g.lo_chan
    JOIN cells hi ON hi.antenna1 = s.antenna1 AND hi.antenna2 = s.antenna2
                 AND hi.time = s.time AND hi.spw = s.spw
                 AND hi.chan = g.hi_chan
    ORDER BY s.antenna1, s.antenna2, s.time, g.target_idx
    """
)


@register("spw_aware_regrid", _SPW_REGRID_ORACLE)
def spw_aware_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL_WINDOW-change-aware regridding: rows carry the spectral
    window active at their epoch (weekly cadence); each window's channel
    -> frequency map differs, and every (baseline, time) spectrum
    regrids onto the common 6-point target grid by linear interpolation
    BETWEEN its own window's bracket channels only. Bracket indices and
    blend fractions are Python-precomputed literals per (spw, target) —
    the broadcast grid is 12 rows; the two bracket lookups are
    spectrum-grain self-joins (cell-collapsed first, so duplicate rows
    and the (time, row_id) tie class cannot bite); a target emits only
    when both brackets exist in the data (window edges and flagged-out
    cells drop deterministically in both engines)."""
    from codex_africanus_spark.functions.deterministic import quantize

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    cells = (
        vis.select(
            "antenna1", "antenna2", "time",
            (F.floor(F.col("time") / F.lit(604800.0)).cast("long") % 2)
            .cast("int").alias("spw"),
            "chan",
            quantize(F.col("vis_re"), 1e6).alias("rq0"),
            quantize(F.col("vis_im"), 1e6).alias("iq0"),
        )
        .groupBy("antenna1", "antenna2", "time", "spw", "chan")
        .agg(
            F.sum("rq0").alias("rq"),
            F.sum("iq0").alias("iq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    grid = local_frame(
        spark,
        _SPW_GRID,
        "spw int, target_idx int, target_freq double, lo_chan int, "
        "hi_chan int, frac9 long",
    )
    spectra = cells.select("antenna1", "antenna2", "time", "spw").distinct()
    lo = cells.select(
        "antenna1", "antenna2", "time", "spw",
        F.col("chan").alias("lo_chan"),
        F.col("rq").alias("lo_rq"), F.col("iq").alias("lo_iq"),
        F.col("n").alias("lo_n"),
    )
    hi = cells.select(
        "antenna1", "antenna2", "time", "spw",
        F.col("chan").alias("hi_chan"),
        F.col("rq").alias("hi_rq"), F.col("iq").alias("hi_iq"),
        F.col("n").alias("hi_n"),
    )
    j = (
        spectra.join(F.broadcast(grid), "spw")
        .join(lo, ["antenna1", "antenna2", "time", "spw", "lo_chan"])
        .join(hi, ["antenna1", "antenna2", "time", "spw", "hi_chan"])
    )
    frac = F.col("frac9") / F.lit(1e9)

    def blend(lq, ln_, hq, hn):
        mlo = F.col(lq) / (F.lit(1e6) * F.col(ln_))
        mhi = F.col(hq) / (F.lit(1e6) * F.col(hn))
        return quantize(mlo + (mhi - mlo) * frac, 1e6) / F.lit(1e6)

    return (
        j.select(
            "antenna1", "antenna2", "time", "spw", "target_idx",
            "target_freq",
            (F.col("lo_n") + F.col("hi_n")).alias("n_samples"),
            blend("lo_rq", "lo_n", "hi_rq", "hi_n").alias("vis_re_rg"),
            blend("lo_iq", "lo_n", "hi_iq", "hi_n").alias("vis_im_rg"),
        )
        .orderBy("antenna1", "antenna2", "time", "target_idx")
    )


# ---------------------------------------------------------------------------
# Round 9: uv-coverage completeness entropy (PSF-quality proxy). Octants
# come from pure sign/magnitude comparisons (never atan2 — sector-edge
# ULP forks are impossible); the -p·ln(p) table at permille resolution
# is Python-precomputed in nano-nats and interpolated into BOTH engines,
# so the entropy itself is an exact integer everywhere.
# ---------------------------------------------------------------------------

_ENT_TABLE = [0, 6907755, 12429216, 17427429, 22085844, 26491587, 30695975, 34732916, 38626510, 42394776, 46051702, 49608460, 53074184, 56456477, 59761771, 62995576, 66162665, 69267213, 72312903, 75303010, 78240460, 81127890, 83967682, 86762004, 89512835, 92221986, 94891127, 97521797, 100115422, 102673324, 105196737, 107686810, 110144620, 112571175, 114967422, 117334253, 119672508, 121982983, 124266427, 126523552, 128755033, 130961512, 133143598, 135301872, 137436888, 139549176, 141639239, 143707561, 145754605, 147780814, 149786614, 151772412, 153738601, 155685558, 157613647, 159523215, 161414601, 163288129, 165144112, 166982852, 168804643, 170609766, 172398495, 174171095, 175927821, 177668921, 179394635, 181105198, 182800835, 184481765, 186148203, 187800354, 189438420, 191062596, 192673074, 194270037, 195853667, 197424139, 198981623, 200526287, 202058292, 203577796, 205084955, 206579918, 208062832, 209533842, 210993087, 212440703, 213876825, 215301583, 216715105, 218117515, 219508937, 220889488, 222259287, 223618447, 224967080, 226305297, 227633204, 228950907, 230258509, 231556111, 232843812, 234121708, 235389896, 236648468, 237897516, 239137130, 240367398, 241588406, 242800240, 244002984, 245196718, 246381523, 247557479, 248724662, 249883150, 251033017, 252174337, 253307183, 254431624, 255547733, 256655577, 257755224, 258846740, 259930193, 261005645, 262073160, 263132802, 264184631, 265228708, 266265092, 267293843, 268315018, 269328674, 270334868, 271333653, 272325086, 273309220, 274286107, 275255800, 276218350, 277173807, 278122223, 279063645, 279998123, 280925704, 281846436, 282760365, 283667537, 284567998, 285461792, 286348963, 287229556, 288103612, 288971175, 289832286, 290686987, 291535319, 292377321, 293213034, 294042497, 294865749, 295682828, 296493772, 297298618, 298097403, 298890165, 299676938, 300457759, 301232663, 302001685, 302764858, 303522217, 304273796, 305019628, 305759746, 306494182, 307222968, 307946136, 308663717, 309375743, 310082244, 310783250, 311478792, 312168899, 312853601, 313532926, 314206903, 314875562, 315538929, 316197034, 316849902, 317497562, 318140041, 318777365, 319409561, 320036655, 320658673, 321275640, 321887582, 322494525, 323096491, 323693508, 324285598, 324872786, 325455097, 326032553, 326605177, 327172995, 327736027, 328294298, 328847829, 329396643, 329940762, 330480209, 331015004, 331545170, 332070727, 332591697, 333108101, 333619960, 334127293, 334630122, 335128467, 335622347, 336111783, 336596794, 337077400, 337553620, 338025473, 338492978, 338956154, 339415020, 339869594, 340319895, 340765940, 341207748, 341645336, 342078723, 342507925, 342932961, 343353848, 343770602, 344183241, 344591782, 344996241, 345396635, 345792980, 346185293, 346573590, 346957887, 347338200, 347714545, 348086937, 348455392, 348819926, 349180553, 349537289, 349890149, 350239148, 350584302, 350925623, 351263128, 351596830, 351926745, 352252886, 352575268, 352893904, 353208809, 353519996, 353827480, 354131274, 354431391, 354727845, 355020650, 355309818, 355595363, 355877298, 356155636, 356430389, 356701571, 356969195, 357233272, 357493816, 357750838, 358004352, 358254369, 358500902, 358743963, 358983563, 359219715, 359452431, 359681722, 359907600, 360130077, 360349164, 360564873, 360777214, 360986200, 361191841, 361394149, 361593135, 361788809, 361981184, 362170268, 362356074, 362538612, 362717893, 362893927, 363066724, 363236296, 363402652, 363565804, 363725760, 363882532, 364036129, 364186561, 364333839, 364477972, 364618971, 364756844, 364891602, 365023255, 365151811, 365277281, 365399675, 365519000, 365635268, 365748487, 365858666, 365965815, 366069943, 366171059, 366269172, 366364290, 366456424, 366545581, 366631772, 366715003, 366795285, 366872625, 366947033, 367018517, 367087086, 367152747, 367215510, 367275383, 367332374, 367386492, 367437744, 367486138, 367531684, 367574389, 367614262, 367651309, 367685539, 367716961, 367745581, 367771408, 367794449, 367814713, 367832206, 367846937, 367858914, 367868143, 367874632, 367878389, 367879421, 367877736, 367873341, 367866243, 367856450, 367843969, 367828806, 367810970, 367790467, 367767305, 367741490, 367713029, 367681930, 367648199, 367611844, 367572871, 367531287, 367487099, 367440313, 367390937, 367338976, 367284439, 367227331, 367167658, 367105428, 367040647, 366973322, 366903458, 366831063, 366756142, 366678703, 366598751, 366516293, 366431335, 366343883, 366253943, 366161522, 366066626, 365969260, 365869432, 365767147, 365662410, 365555229, 365445609, 365333555, 365219074, 365102172, 364982855, 364861128, 364736997, 364610468, 364481546, 364350238, 364216549, 364080485, 363942051, 363801253, 363658097, 363512587, 363364730, 363214532, 363061996, 362907130, 362749938, 362590426, 362428600, 362264463, 362098023, 361929284, 361758251, 361584929, 361409325, 361231443, 361051288, 360868865, 360684180, 360497238, 360308044, 360116602, 359922918, 359726997, 359528844, 359328463, 359125861, 358921041, 358714009, 358504769, 358293326, 358079686, 357863853, 357645831, 357425627, 357203243, 356978686, 356751959, 356523068, 356292017, 356058811, 355823455, 355585952, 355346308, 355104527, 354860615, 354614574, 354366410, 354116128, 353863732, 353609226, 353352614, 353093902, 352833093, 352570192, 352305204, 352038132, 351768981, 351497756, 351224460, 350949098, 350671674, 350392193, 350110658, 349827074, 349541445, 349253775, 348964069, 348672330, 348378562, 348082771, 347784959, 347485131, 347183291, 346879442, 346573590, 346265738, 345955890, 345644050, 345330221, 345014409, 344696617, 344376848, 344055106, 343731397, 343405722, 343078087, 342748495, 342416950, 342083455, 341748015, 341410633, 341071313, 340730059, 340386874, 340041763, 339694729, 339345775, 338994905, 338642124, 338287434, 337930839, 337572343, 337211950, 336849662, 336485484, 336119420, 335751472, 335381645, 335009941, 334636365, 334260919, 333883608, 333504435, 333123403, 332740515, 332355776, 331969188, 331580756, 331190481, 330798369, 330404422, 330008643, 329611036, 329211604, 328810350, 328407279, 328002392, 327595694, 327187188, 326776877, 326364764, 325950852, 325535145, 325117645, 324698357, 324277284, 323854427, 323429791, 323003380, 322575195, 322145240, 321713518, 321280033, 320844787, 320407783, 319969026, 319528517, 319086259, 318642257, 318196512, 317749028, 317299808, 316848855, 316396172, 315941762, 315485627, 315027772, 314568198, 314106909, 313643908, 313179197, 312712780, 312244659, 311774837, 311303318, 310830104, 310355197, 309878602, 309400320, 308920355, 308438709, 307955385, 307470386, 306983715, 306495374, 306005367, 305513696, 305020364, 304525373, 304028727, 303530428, 303030478, 302528881, 302025640, 301520756, 301014233, 300506074, 299996280, 299484855, 298971802, 298457122, 297940819, 297422896, 296903354, 296382197, 295859426, 295335046, 294809058, 294281464, 293752268, 293221472, 292689079, 292155091, 291619510, 291082340, 290543582, 290003239, 289461314, 288917810, 288372728, 287826071, 287277842, 286728043, 286176677, 285623746, 285069252, 284513198, 283955587, 283396420, 282835701, 282273431, 281709613, 281144250, 280577343, 280008895, 279438910, 278867388, 278294332, 277719745, 277143628, 276565985, 275986818, 275406129, 274823920, 274240193, 273654951, 273068197, 272479931, 271890158, 271298878, 270706095, 270111810, 269516026, 268918745, 268319970, 267719701, 267117943, 266514696, 265909963, 265303747, 264696049, 264086872, 263476218, 262864089, 262250487, 261635414, 261018874, 260400866, 259781395, 259160462, 258538069, 257914218, 257288911, 256662151, 256033940, 255404280, 254773172, 254140619, 253506623, 252871186, 252234311, 251595998, 250956251, 250315071, 249672461, 249028422, 248382956, 247736066, 247087754, 246438021, 245786869, 245134301, 244480319, 243824924, 243168119, 242509906, 241850286, 241189261, 240526834, 239863006, 239197780, 238531157, 237863140, 237193729, 236522928, 235850738, 235177161, 234502199, 233825854, 233148127, 232469022, 231788539, 231106680, 230423448, 229738844, 229052870, 228365528, 227676820, 226986748, 226295313, 225602518, 224908364, 224212853, 223515988, 222817769, 222118198, 221417279, 220715011, 220011398, 219306440, 218600140, 217892500, 217183521, 216473205, 215761554, 215048570, 214334254, 213618609, 212901635, 212183335, 211463711, 210742763, 210020495, 209296908, 208572003, 207845782, 207118247, 206389400, 205659242, 204927776, 204195002, 203460922, 202725539, 201988854, 201250868, 200511584, 199771003, 199029126, 198285956, 197541493, 196795741, 196048700, 195300371, 194550758, 193799860, 193047681, 192294221, 191539482, 190783467, 190026176, 189267610, 188507773, 187746665, 186984288, 186220643, 185455733, 184689559, 183922121, 183153423, 182383466, 181612250, 180839778, 180066052, 179291072, 178514841, 177737360, 176958630, 176178654, 175397432, 174614966, 173831258, 173046310, 172260122, 171472697, 170684035, 169894139, 169103010, 168310650, 167517059, 166722240, 165926194, 165128922, 164330427, 163530709, 162729770, 161927611, 161124235, 160319641, 159513833, 158706811, 157898578, 157089133, 156278479, 155466618, 154653550, 153839277, 153023801, 152207123, 151389245, 150570168, 149749893, 148928422, 148105756, 147281896, 146456845, 145630604, 144803173, 143974555, 143144750, 142313761, 141481588, 140648233, 139813697, 138977983, 138141090, 137303021, 136463777, 135623359, 134781769, 133939008, 133095077, 132249978, 131403712, 130556281, 129707685, 128857927, 128007007, 127154927, 126301689, 125447293, 124591741, 123735034, 122877174, 122018162, 121157999, 120296686, 119434226, 118570618, 117705866, 116839969, 115972929, 115104747, 114235426, 113364965, 112493367, 111620632, 110746763, 109871759, 108995623, 108118356, 107239959, 106360433, 105479780, 104598001, 103715096, 102831069, 101945919, 101059647, 100172256, 99283747, 98394120, 97503377, 96611519, 95718548, 94824464, 93929269, 93032965, 92135551, 91237030, 90337403, 89436671, 88534836, 87631898, 86727858, 85822718, 84916480, 84009143, 83100711, 82191183, 81280561, 80368846, 79456039, 78542142, 77627155, 76711080, 75793919, 74875671, 73956339, 73035924, 72114426, 71191847, 70268188, 69343451, 68417636, 67490744, 66562778, 65633737, 64703623, 63772437, 62840181, 61906855, 60972461, 60037000, 59100472, 58162879, 57224223, 56284504, 55343724, 54401883, 53458982, 52515024, 51570008, 50623936, 49676810, 48728630, 47779397, 46829112, 45877778, 44925394, 43971961, 43017482, 42061956, 41105386, 40147772, 39189115, 38229416, 37268677, 36306898, 35344081, 34380226, 33415336, 32449410, 31482450, 30514456, 29545431, 28575375, 27604289, 26632174, 25659032, 24684863, 23709668, 22733449, 21756206, 20777940, 19798653, 18818346, 17837019, 16854674, 15871312, 14886933, 13901539, 12915131, 11927710, 10939277, 9949832, 8959378, 7967914, 6975443, 5981964, 4987479, 3991989, 2995495, 1997999, 999500, 0]

_UV_ENTROPY_ORACLE = _with_ms(
    """
    , samp AS (
      SELECT LEAST(CAST(FLOOR(sqrt(u*u + v*v) / 10.0) AS BIGINT), 60)
               AS annulus,
             (CASE WHEN v >= 0 THEN 0 ELSE 4 END)
               + (CASE WHEN u >= 0 THEN 0 ELSE 2 END)
               + (CASE WHEN abs(u) >= abs(v) THEN 0 ELSE 1 END) AS octant
      FROM vis WHERE NOT (flag OR flag_row)
    ),
    cellc AS (
      SELECT annulus, octant, COUNT(*) AS c FROM samp GROUP BY 1, 2
    ),
    tot AS (
      SELECT annulus, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS k_occ
      FROM cellc GROUP BY annulus
    ),
    ent(p, e) AS (VALUES __VALS__),
    scored AS (
      SELECT c.annulus, CAST(c.c * 1000 AS BIGINT) // t.n AS pm
      FROM cellc c JOIN tot t USING (annulus)
    )
    SELECT t.annulus, t.n AS n_samples, t.k_occ,
           CAST(t.k_occ * 125 AS BIGINT) AS completeness_permille,
           CAST(SUM(ent.e) AS BIGINT) AS entropy_nanonats
    FROM scored s
    JOIN tot t USING (annulus)
    JOIN ent ON ent.p = s.pm
    GROUP BY t.annulus, t.n, t.k_occ
    ORDER BY t.annulus
    """.replace("__VALS__", "(0, 0), (1, 6907755), (2, 12429216), (3, 17427429), (4, 22085844), (5, 26491587), (6, 30695975), (7, 34732916), (8, 38626510), (9, 42394776), (10, 46051702), (11, 49608460), (12, 53074184), (13, 56456477), (14, 59761771), (15, 62995576), (16, 66162665), (17, 69267213), (18, 72312903), (19, 75303010), (20, 78240460), (21, 81127890), (22, 83967682), (23, 86762004), (24, 89512835), (25, 92221986), (26, 94891127), (27, 97521797), (28, 100115422), (29, 102673324), (30, 105196737), (31, 107686810), (32, 110144620), (33, 112571175), (34, 114967422), (35, 117334253), (36, 119672508), (37, 121982983), (38, 124266427), (39, 126523552), (40, 128755033), (41, 130961512), (42, 133143598), (43, 135301872), (44, 137436888), (45, 139549176), (46, 141639239), (47, 143707561), (48, 145754605), (49, 147780814), (50, 149786614), (51, 151772412), (52, 153738601), (53, 155685558), (54, 157613647), (55, 159523215), (56, 161414601), (57, 163288129), (58, 165144112), (59, 166982852), (60, 168804643), (61, 170609766), (62, 172398495), (63, 174171095), (64, 175927821), (65, 177668921), (66, 179394635), (67, 181105198), (68, 182800835), (69, 184481765), (70, 186148203), (71, 187800354), (72, 189438420), (73, 191062596), (74, 192673074), (75, 194270037), (76, 195853667), (77, 197424139), (78, 198981623), (79, 200526287), (80, 202058292), (81, 203577796), (82, 205084955), (83, 206579918), (84, 208062832), (85, 209533842), (86, 210993087), (87, 212440703), (88, 213876825), (89, 215301583), (90, 216715105), (91, 218117515), (92, 219508937), (93, 220889488), (94, 222259287), (95, 223618447), (96, 224967080), (97, 226305297), (98, 227633204), (99, 228950907), (100, 230258509), (101, 231556111), (102, 232843812), (103, 234121708), (104, 235389896), (105, 236648468), (106, 237897516), (107, 239137130), (108, 240367398), (109, 241588406), (110, 242800240), (111, 244002984), (112, 245196718), (113, 246381523), (114, 247557479), (115, 248724662), (116, 249883150), (117, 251033017), (118, 252174337), (119, 253307183), (120, 254431624), (121, 255547733), (122, 256655577), (123, 257755224), (124, 258846740), (125, 259930193), (126, 261005645), (127, 262073160), (128, 263132802), (129, 264184631), (130, 265228708), (131, 266265092), (132, 267293843), (133, 268315018), (134, 269328674), (135, 270334868), (136, 271333653), (137, 272325086), (138, 273309220), (139, 274286107), (140, 275255800), (141, 276218350), (142, 277173807), (143, 278122223), (144, 279063645), (145, 279998123), (146, 280925704), (147, 281846436), (148, 282760365), (149, 283667537), (150, 284567998), (151, 285461792), (152, 286348963), (153, 287229556), (154, 288103612), (155, 288971175), (156, 289832286), (157, 290686987), (158, 291535319), (159, 292377321), (160, 293213034), (161, 294042497), (162, 294865749), (163, 295682828), (164, 296493772), (165, 297298618), (166, 298097403), (167, 298890165), (168, 299676938), (169, 300457759), (170, 301232663), (171, 302001685), (172, 302764858), (173, 303522217), (174, 304273796), (175, 305019628), (176, 305759746), (177, 306494182), (178, 307222968), (179, 307946136), (180, 308663717), (181, 309375743), (182, 310082244), (183, 310783250), (184, 311478792), (185, 312168899), (186, 312853601), (187, 313532926), (188, 314206903), (189, 314875562), (190, 315538929), (191, 316197034), (192, 316849902), (193, 317497562), (194, 318140041), (195, 318777365), (196, 319409561), (197, 320036655), (198, 320658673), (199, 321275640), (200, 321887582), (201, 322494525), (202, 323096491), (203, 323693508), (204, 324285598), (205, 324872786), (206, 325455097), (207, 326032553), (208, 326605177), (209, 327172995), (210, 327736027), (211, 328294298), (212, 328847829), (213, 329396643), (214, 329940762), (215, 330480209), (216, 331015004), (217, 331545170), (218, 332070727), (219, 332591697), (220, 333108101), (221, 333619960), (222, 334127293), (223, 334630122), (224, 335128467), (225, 335622347), (226, 336111783), (227, 336596794), (228, 337077400), (229, 337553620), (230, 338025473), (231, 338492978), (232, 338956154), (233, 339415020), (234, 339869594), (235, 340319895), (236, 340765940), (237, 341207748), (238, 341645336), (239, 342078723), (240, 342507925), (241, 342932961), (242, 343353848), (243, 343770602), (244, 344183241), (245, 344591782), (246, 344996241), (247, 345396635), (248, 345792980), (249, 346185293), (250, 346573590), (251, 346957887), (252, 347338200), (253, 347714545), (254, 348086937), (255, 348455392), (256, 348819926), (257, 349180553), (258, 349537289), (259, 349890149), (260, 350239148), (261, 350584302), (262, 350925623), (263, 351263128), (264, 351596830), (265, 351926745), (266, 352252886), (267, 352575268), (268, 352893904), (269, 353208809), (270, 353519996), (271, 353827480), (272, 354131274), (273, 354431391), (274, 354727845), (275, 355020650), (276, 355309818), (277, 355595363), (278, 355877298), (279, 356155636), (280, 356430389), (281, 356701571), (282, 356969195), (283, 357233272), (284, 357493816), (285, 357750838), (286, 358004352), (287, 358254369), (288, 358500902), (289, 358743963), (290, 358983563), (291, 359219715), (292, 359452431), (293, 359681722), (294, 359907600), (295, 360130077), (296, 360349164), (297, 360564873), (298, 360777214), (299, 360986200), (300, 361191841), (301, 361394149), (302, 361593135), (303, 361788809), (304, 361981184), (305, 362170268), (306, 362356074), (307, 362538612), (308, 362717893), (309, 362893927), (310, 363066724), (311, 363236296), (312, 363402652), (313, 363565804), (314, 363725760), (315, 363882532), (316, 364036129), (317, 364186561), (318, 364333839), (319, 364477972), (320, 364618971), (321, 364756844), (322, 364891602), (323, 365023255), (324, 365151811), (325, 365277281), (326, 365399675), (327, 365519000), (328, 365635268), (329, 365748487), (330, 365858666), (331, 365965815), (332, 366069943), (333, 366171059), (334, 366269172), (335, 366364290), (336, 366456424), (337, 366545581), (338, 366631772), (339, 366715003), (340, 366795285), (341, 366872625), (342, 366947033), (343, 367018517), (344, 367087086), (345, 367152747), (346, 367215510), (347, 367275383), (348, 367332374), (349, 367386492), (350, 367437744), (351, 367486138), (352, 367531684), (353, 367574389), (354, 367614262), (355, 367651309), (356, 367685539), (357, 367716961), (358, 367745581), (359, 367771408), (360, 367794449), (361, 367814713), (362, 367832206), (363, 367846937), (364, 367858914), (365, 367868143), (366, 367874632), (367, 367878389), (368, 367879421), (369, 367877736), (370, 367873341), (371, 367866243), (372, 367856450), (373, 367843969), (374, 367828806), (375, 367810970), (376, 367790467), (377, 367767305), (378, 367741490), (379, 367713029), (380, 367681930), (381, 367648199), (382, 367611844), (383, 367572871), (384, 367531287), (385, 367487099), (386, 367440313), (387, 367390937), (388, 367338976), (389, 367284439), (390, 367227331), (391, 367167658), (392, 367105428), (393, 367040647), (394, 366973322), (395, 366903458), (396, 366831063), (397, 366756142), (398, 366678703), (399, 366598751), (400, 366516293), (401, 366431335), (402, 366343883), (403, 366253943), (404, 366161522), (405, 366066626), (406, 365969260), (407, 365869432), (408, 365767147), (409, 365662410), (410, 365555229), (411, 365445609), (412, 365333555), (413, 365219074), (414, 365102172), (415, 364982855), (416, 364861128), (417, 364736997), (418, 364610468), (419, 364481546), (420, 364350238), (421, 364216549), (422, 364080485), (423, 363942051), (424, 363801253), (425, 363658097), (426, 363512587), (427, 363364730), (428, 363214532), (429, 363061996), (430, 362907130), (431, 362749938), (432, 362590426), (433, 362428600), (434, 362264463), (435, 362098023), (436, 361929284), (437, 361758251), (438, 361584929), (439, 361409325), (440, 361231443), (441, 361051288), (442, 360868865), (443, 360684180), (444, 360497238), (445, 360308044), (446, 360116602), (447, 359922918), (448, 359726997), (449, 359528844), (450, 359328463), (451, 359125861), (452, 358921041), (453, 358714009), (454, 358504769), (455, 358293326), (456, 358079686), (457, 357863853), (458, 357645831), (459, 357425627), (460, 357203243), (461, 356978686), (462, 356751959), (463, 356523068), (464, 356292017), (465, 356058811), (466, 355823455), (467, 355585952), (468, 355346308), (469, 355104527), (470, 354860615), (471, 354614574), (472, 354366410), (473, 354116128), (474, 353863732), (475, 353609226), (476, 353352614), (477, 353093902), (478, 352833093), (479, 352570192), (480, 352305204), (481, 352038132), (482, 351768981), (483, 351497756), (484, 351224460), (485, 350949098), (486, 350671674), (487, 350392193), (488, 350110658), (489, 349827074), (490, 349541445), (491, 349253775), (492, 348964069), (493, 348672330), (494, 348378562), (495, 348082771), (496, 347784959), (497, 347485131), (498, 347183291), (499, 346879442), (500, 346573590), (501, 346265738), (502, 345955890), (503, 345644050), (504, 345330221), (505, 345014409), (506, 344696617), (507, 344376848), (508, 344055106), (509, 343731397), (510, 343405722), (511, 343078087), (512, 342748495), (513, 342416950), (514, 342083455), (515, 341748015), (516, 341410633), (517, 341071313), (518, 340730059), (519, 340386874), (520, 340041763), (521, 339694729), (522, 339345775), (523, 338994905), (524, 338642124), (525, 338287434), (526, 337930839), (527, 337572343), (528, 337211950), (529, 336849662), (530, 336485484), (531, 336119420), (532, 335751472), (533, 335381645), (534, 335009941), (535, 334636365), (536, 334260919), (537, 333883608), (538, 333504435), (539, 333123403), (540, 332740515), (541, 332355776), (542, 331969188), (543, 331580756), (544, 331190481), (545, 330798369), (546, 330404422), (547, 330008643), (548, 329611036), (549, 329211604), (550, 328810350), (551, 328407279), (552, 328002392), (553, 327595694), (554, 327187188), (555, 326776877), (556, 326364764), (557, 325950852), (558, 325535145), (559, 325117645), (560, 324698357), (561, 324277284), (562, 323854427), (563, 323429791), (564, 323003380), (565, 322575195), (566, 322145240), (567, 321713518), (568, 321280033), (569, 320844787), (570, 320407783), (571, 319969026), (572, 319528517), (573, 319086259), (574, 318642257), (575, 318196512), (576, 317749028), (577, 317299808), (578, 316848855), (579, 316396172), (580, 315941762), (581, 315485627), (582, 315027772), (583, 314568198), (584, 314106909), (585, 313643908), (586, 313179197), (587, 312712780), (588, 312244659), (589, 311774837), (590, 311303318), (591, 310830104), (592, 310355197), (593, 309878602), (594, 309400320), (595, 308920355), (596, 308438709), (597, 307955385), (598, 307470386), (599, 306983715), (600, 306495374), (601, 306005367), (602, 305513696), (603, 305020364), (604, 304525373), (605, 304028727), (606, 303530428), (607, 303030478), (608, 302528881), (609, 302025640), (610, 301520756), (611, 301014233), (612, 300506074), (613, 299996280), (614, 299484855), (615, 298971802), (616, 298457122), (617, 297940819), (618, 297422896), (619, 296903354), (620, 296382197), (621, 295859426), (622, 295335046), (623, 294809058), (624, 294281464), (625, 293752268), (626, 293221472), (627, 292689079), (628, 292155091), (629, 291619510), (630, 291082340), (631, 290543582), (632, 290003239), (633, 289461314), (634, 288917810), (635, 288372728), (636, 287826071), (637, 287277842), (638, 286728043), (639, 286176677), (640, 285623746), (641, 285069252), (642, 284513198), (643, 283955587), (644, 283396420), (645, 282835701), (646, 282273431), (647, 281709613), (648, 281144250), (649, 280577343), (650, 280008895), (651, 279438910), (652, 278867388), (653, 278294332), (654, 277719745), (655, 277143628), (656, 276565985), (657, 275986818), (658, 275406129), (659, 274823920), (660, 274240193), (661, 273654951), (662, 273068197), (663, 272479931), (664, 271890158), (665, 271298878), (666, 270706095), (667, 270111810), (668, 269516026), (669, 268918745), (670, 268319970), (671, 267719701), (672, 267117943), (673, 266514696), (674, 265909963), (675, 265303747), (676, 264696049), (677, 264086872), (678, 263476218), (679, 262864089), (680, 262250487), (681, 261635414), (682, 261018874), (683, 260400866), (684, 259781395), (685, 259160462), (686, 258538069), (687, 257914218), (688, 257288911), (689, 256662151), (690, 256033940), (691, 255404280), (692, 254773172), (693, 254140619), (694, 253506623), (695, 252871186), (696, 252234311), (697, 251595998), (698, 250956251), (699, 250315071), (700, 249672461), (701, 249028422), (702, 248382956), (703, 247736066), (704, 247087754), (705, 246438021), (706, 245786869), (707, 245134301), (708, 244480319), (709, 243824924), (710, 243168119), (711, 242509906), (712, 241850286), (713, 241189261), (714, 240526834), (715, 239863006), (716, 239197780), (717, 238531157), (718, 237863140), (719, 237193729), (720, 236522928), (721, 235850738), (722, 235177161), (723, 234502199), (724, 233825854), (725, 233148127), (726, 232469022), (727, 231788539), (728, 231106680), (729, 230423448), (730, 229738844), (731, 229052870), (732, 228365528), (733, 227676820), (734, 226986748), (735, 226295313), (736, 225602518), (737, 224908364), (738, 224212853), (739, 223515988), (740, 222817769), (741, 222118198), (742, 221417279), (743, 220715011), (744, 220011398), (745, 219306440), (746, 218600140), (747, 217892500), (748, 217183521), (749, 216473205), (750, 215761554), (751, 215048570), (752, 214334254), (753, 213618609), (754, 212901635), (755, 212183335), (756, 211463711), (757, 210742763), (758, 210020495), (759, 209296908), (760, 208572003), (761, 207845782), (762, 207118247), (763, 206389400), (764, 205659242), (765, 204927776), (766, 204195002), (767, 203460922), (768, 202725539), (769, 201988854), (770, 201250868), (771, 200511584), (772, 199771003), (773, 199029126), (774, 198285956), (775, 197541493), (776, 196795741), (777, 196048700), (778, 195300371), (779, 194550758), (780, 193799860), (781, 193047681), (782, 192294221), (783, 191539482), (784, 190783467), (785, 190026176), (786, 189267610), (787, 188507773), (788, 187746665), (789, 186984288), (790, 186220643), (791, 185455733), (792, 184689559), (793, 183922121), (794, 183153423), (795, 182383466), (796, 181612250), (797, 180839778), (798, 180066052), (799, 179291072), (800, 178514841), (801, 177737360), (802, 176958630), (803, 176178654), (804, 175397432), (805, 174614966), (806, 173831258), (807, 173046310), (808, 172260122), (809, 171472697), (810, 170684035), (811, 169894139), (812, 169103010), (813, 168310650), (814, 167517059), (815, 166722240), (816, 165926194), (817, 165128922), (818, 164330427), (819, 163530709), (820, 162729770), (821, 161927611), (822, 161124235), (823, 160319641), (824, 159513833), (825, 158706811), (826, 157898578), (827, 157089133), (828, 156278479), (829, 155466618), (830, 154653550), (831, 153839277), (832, 153023801), (833, 152207123), (834, 151389245), (835, 150570168), (836, 149749893), (837, 148928422), (838, 148105756), (839, 147281896), (840, 146456845), (841, 145630604), (842, 144803173), (843, 143974555), (844, 143144750), (845, 142313761), (846, 141481588), (847, 140648233), (848, 139813697), (849, 138977983), (850, 138141090), (851, 137303021), (852, 136463777), (853, 135623359), (854, 134781769), (855, 133939008), (856, 133095077), (857, 132249978), (858, 131403712), (859, 130556281), (860, 129707685), (861, 128857927), (862, 128007007), (863, 127154927), (864, 126301689), (865, 125447293), (866, 124591741), (867, 123735034), (868, 122877174), (869, 122018162), (870, 121157999), (871, 120296686), (872, 119434226), (873, 118570618), (874, 117705866), (875, 116839969), (876, 115972929), (877, 115104747), (878, 114235426), (879, 113364965), (880, 112493367), (881, 111620632), (882, 110746763), (883, 109871759), (884, 108995623), (885, 108118356), (886, 107239959), (887, 106360433), (888, 105479780), (889, 104598001), (890, 103715096), (891, 102831069), (892, 101945919), (893, 101059647), (894, 100172256), (895, 99283747), (896, 98394120), (897, 97503377), (898, 96611519), (899, 95718548), (900, 94824464), (901, 93929269), (902, 93032965), (903, 92135551), (904, 91237030), (905, 90337403), (906, 89436671), (907, 88534836), (908, 87631898), (909, 86727858), (910, 85822718), (911, 84916480), (912, 84009143), (913, 83100711), (914, 82191183), (915, 81280561), (916, 80368846), (917, 79456039), (918, 78542142), (919, 77627155), (920, 76711080), (921, 75793919), (922, 74875671), (923, 73956339), (924, 73035924), (925, 72114426), (926, 71191847), (927, 70268188), (928, 69343451), (929, 68417636), (930, 67490744), (931, 66562778), (932, 65633737), (933, 64703623), (934, 63772437), (935, 62840181), (936, 61906855), (937, 60972461), (938, 60037000), (939, 59100472), (940, 58162879), (941, 57224223), (942, 56284504), (943, 55343724), (944, 54401883), (945, 53458982), (946, 52515024), (947, 51570008), (948, 50623936), (949, 49676810), (950, 48728630), (951, 47779397), (952, 46829112), (953, 45877778), (954, 44925394), (955, 43971961), (956, 43017482), (957, 42061956), (958, 41105386), (959, 40147772), (960, 39189115), (961, 38229416), (962, 37268677), (963, 36306898), (964, 35344081), (965, 34380226), (966, 33415336), (967, 32449410), (968, 31482450), (969, 30514456), (970, 29545431), (971, 28575375), (972, 27604289), (973, 26632174), (974, 25659032), (975, 24684863), (976, 23709668), (977, 22733449), (978, 21756206), (979, 20777940), (980, 19798653), (981, 18818346), (982, 17837019), (983, 16854674), (984, 15871312), (985, 14886933), (986, 13901539), (987, 12915131), (988, 11927710), (989, 10939277), (990, 9949832), (991, 8959378), (992, 7967914), (993, 6975443), (994, 5981964), (995, 4987479), (996, 3991989), (997, 2995495), (998, 1997999), (999, 999500), (1000, 0)")
)


@register("uv_coverage_entropy", _UV_ENTROPY_ORACLE)
def uv_coverage_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uv-coverage completeness entropy (r9, ROADMAP candidate): per
    10-unit uv-distance annulus (capped at 60), the unflagged samples
    split into 8 azimuthal octants decided by pure sign/|u|-vs-|v|
    comparisons (no atan2 — sector-boundary ULP forks are structurally
    impossible), and the octant distribution's Shannon entropy is the
    PSF-sidelobe proxy an observation planner reads next to the radial
    profile: a full annulus scores ln 8, a one-armed annulus 0. Shares
    -p·ln p values at permille resolution from a Python-precomputed
    nano-nat table (exact integers in both engines). Plan: one fact
    scan, two annulus-grain aggregates, one 1001-row broadcast lookup."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    samp = vis.select(
        F.least(
            F.floor(
                F.sqrt(F.col("u") * F.col("u") + F.col("v") * F.col("v"))
                / F.lit(10.0)
            ).cast("long"),
            F.lit(60),
        ).alias("annulus"),
        (
            F.when(F.col("v") >= 0, F.lit(0)).otherwise(F.lit(4))
            + F.when(F.col("u") >= 0, F.lit(0)).otherwise(F.lit(2))
            + F.when(F.abs("u") >= F.abs("v"), F.lit(0)).otherwise(F.lit(1))
        ).alias("octant"),
    )
    cellc = samp.groupBy("annulus", "octant").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cellc.groupBy("annulus").agg(
        F.sum("c").alias("n_samples"), F.count(F.lit(1)).alias("k_occ")
    )
    etab = F.array(*[F.lit(v) for v in _ENT_TABLE])
    scored = cellc.join(tot, "annulus").select(
        "annulus",
        F.element_at(
            etab, (F.expr("c * 1000 DIV n_samples") + 1).cast("int")
        ).alias("e"),
    )
    return (
        scored.groupBy("annulus")
        .agg(F.sum("e").alias("entropy_nanonats"))
        .join(tot, "annulus")
        .select(
            "annulus", "n_samples", "k_occ",
            (F.col("k_occ") * 125).cast("long").alias("completeness_permille"),
            F.col("entropy_nanonats").cast("long").alias("entropy_nanonats"),
        )
        .orderBy("annulus")
    )


# ---------------------------------------------------------------------------
# r10: multi-scale CLEAN (Cornwell 2008; reference 1-scale anchor
# africanus/deconv/hogbom/clean.py:122-200). The oracle replays the
# driver loop as a recursive CTE carrying the dense 21x21 residual as a
# DOUBLE[] (the gauss_newton DOUBLE[] technique) — exact because kernel
# taps are dyadic, per-tap products quantize to the 1e-9 grid before
# the order-free integer tap sum, and the scale bias multiplies the
# integer conv (dyadic x int = exact double), so pick decisions compare
# identical doubles in both engines. Kernel/bias literals interpolate
# from the SAME clean_op constants the operator runs (shared-literal
# discipline).
# ---------------------------------------------------------------------------

_MSC_GAMMA, _MSC_TFRAC, _MSC_MAXITER = 0.1, 0.2, 20


def _msclean_oracle() -> str:
    q9 = lambda e: f"(sign({e}) * floor(abs({e}) * 1000000000.0 + 0.5))"  # noqa: E731
    tap_rows = ",".join(
        f"({k},{di},{dj},{w!r})"
        for k in clean_op.MS_SCALES for di, dj, w in clean_op.ms_taps(k)
    )
    bias_rows = ",".join(
        f"({k},{clean_op.MS_BIAS[k]!r})" for k in clean_op.MS_SCALES
    )

    def convq(im, k, idx):
        return f"""(
          SELECT COALESCE(SUM(CAST({q9(f"t.w * {im}[(({idx}) // 21 + t.di) * 21 + (({idx}) % 21 + t.dj) + 1]")} AS BIGINT)), 0)
          FROM kern t
          WHERE t.k = {k}
            AND ({idx}) // 21 + t.di BETWEEN 0 AND 20
            AND ({idx}) % 21 + t.dj BETWEEN 0 AND 20
        )"""

    pick = f"""(
      SELECT struct_pack(k := p.k, idx := p.idx, cq := p.cq,
                         mabs := abs(b.b * p.cq))
      FROM (
        SELECT c.k, c.idx, {convq("i.img", "c.k", "c.idx")} AS cq
        FROM cand c
      ) p JOIN bias b ON b.k = p.k
      ORDER BY abs(b.b * p.cq) DESC, p.k, p.idx LIMIT 1
    )"""

    return f"""
    WITH RECURSIVE vis AS ({tpch_ms.VIS_SQL}),
    grid AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS u_cell,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS v_cell,
             SUM(CAST(ROUND(vis_re * weight * 100) AS BIGINT)) AS grid_re_q,
             SUM(CAST(ROUND(weight * 100) AS BIGINT)) AS wsum_q
      FROM vis WHERE NOT (flag OR flag_row) GROUP BY 1, 2
    ),
    kern(k, di, dj, w) AS (VALUES {tap_rows}),
    bias(k, b) AS (VALUES {bias_rows}),
    cellv AS (
      SELECT (u_cell + 10) * 21 + (v_cell + 10) AS idx,
             CAST(grid_re_q AS DOUBLE) / wsum_q AS v
      FROM grid
    ),
    img0 AS (
      SELECT list(COALESCE(c.v, 0.0) ORDER BY i.range) AS img
      FROM range(441) i LEFT JOIN cellv c ON c.idx = i.range
    ),
    cand AS (SELECT b.k, c.idx FROM bias b, cellv c),
    thresh AS (
      SELECT {_MSC_TFRAC!r} * (
        SELECT abs(b.b * p.cq) FROM (
          SELECT c.k, c.idx, {convq("(SELECT img FROM img0)", "c.k", "c.idx")} AS cq
          FROM cand c
        ) p JOIN bias b ON b.k = p.k
        ORDER BY abs(b.b * p.cq) DESC, p.k, p.idx LIMIT 1
      ) AS t
    ),
    it AS (
      SELECT 0 AS step, (SELECT img FROM img0) AS img,
             CAST(NULL AS INT) AS k_pick, CAST(NULL AS BIGINT) AS idx_pick,
             CAST(NULL AS DOUBLE) AS flux, CAST(1e308 AS DOUBLE) AS mabs
      UNION ALL
      SELECT i.step + 1,
             list_transform(range(441), j -> i.img[j + 1] - ps.delta[j + 1]),
             CAST(ps.k AS INT), ps.idx,
             {_MSC_GAMMA!r} * (ps.cq / 1000000000.0), ps.mabs
      FROM it i,
           LATERAL (
             SELECT q.s.k AS k, q.s.idx AS idx, q.s.cq AS cq,
                    q.s.mabs AS mabs,
                    (SELECT list(COALESCE(d.dv, 0.0) ORDER BY j.range)
                     FROM range(441) j LEFT JOIN (
                       SELECT (q.s.idx // 21 + t.di) * 21
                              + (q.s.idx % 21 + t.dj) AS jj,
                              ({_MSC_GAMMA!r} * (q.s.cq / 1000000000.0)) * t.w AS dv
                       FROM kern t
                       WHERE t.k = q.s.k
                         AND q.s.idx // 21 + t.di BETWEEN 0 AND 20
                         AND q.s.idx % 21 + t.dj BETWEEN 0 AND 20
                     ) d ON d.jj = j.range) AS delta
             FROM (SELECT ({pick}) AS s) q
           ) ps
      WHERE i.step < {_MSC_MAXITER} AND i.mabs > (SELECT t FROM thresh)
    )
    SELECT CAST(step - 1 AS INT) AS iteration, k_pick AS scale,
           CAST(idx_pick // 21 - 10 AS BIGINT) AS u_cell,
           CAST(idx_pick % 21 - 10 AS BIGINT) AS v_cell, flux
    FROM it, thresh
    WHERE step > 0 AND mabs > t
    ORDER BY iteration
    """


@register("multiscale_clean_components", _msclean_oracle())
def multiscale_clean_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-scale CLEAN minor cycle (r9 verdict candidate 1): the
    hogbom driver loop extended with a dyadic binomial scale-kernel
    bank — per iteration the globally best (scale, cell) convolved
    response is picked and the scaled blob subtracted from the dense
    residual. Exactly oracled by a recursive DOUBLE[] image replay
    (see _msclean_oracle)."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    return clean_op.multiscale_clean(
        spark, grid_op.grid_natural(vis),
        gamma=_MSC_GAMMA, threshold_frac=_MSC_TFRAC, maxiter=_MSC_MAXITER,
    ).orderBy("iteration")


# ---------------------------------------------------------------------------
# r10: Sault-weighted linear-mosaic sensitivity map. For a mosaic of
# pointings p with primary beam A_p and per-pointing sensitivity S_p
# (Σ weights), the linear-mosaic weight at image cell x is
# W(x) = Σ_p A_p(x)² · S_p and the effective noise 1/√W (Sault,
# Staveley-Smith & Brouw 1996, A&AS 120 — the CASA/wsclean mosaic
# weighting the reference delegates to imaging tools). Parity: cell
# coords and pointing centres are exact dyadics so the Gaussian-beam
# argument is the identical double; exp OUTPUTS quantize to the 1e-9
# grid (the trig-output discipline); A²·S products quantize to 1e-6
# before the order-free integer cell sum.
# ---------------------------------------------------------------------------

_MOSAIC_CENTRES = [(-0.25, -0.25), (0.0, 0.125), (0.25, -0.125)]  # dyadic
_MOSAIC_BEAM_C = 8.0  # 1/(2σ_b²) with σ_b = 0.25 — exact dyadic

_MOSAIC_SQL = _with_ms(
    f"""
    , sens AS (
      SELECT CAST(CAST(FLOOR(time / 604800.0) AS BIGINT) % 3 AS INT)
               AS field_id,
             CAST(SUM(CAST(ROUND(weight * 1000000.0) AS BIGINT)) AS BIGINT)
               AS s_w
      FROM vis GROUP BY 1
    ),
    centres(field_id, lc, mc) AS (VALUES {", ".join(
        f"({p}, {lc!r}, {mc!r})" for p, (lc, mc) in enumerate(_MOSAIC_CENTRES)
    )}),
    cells AS (
      SELECT CAST(i.range AS INT) AS ci, CAST(j.range AS INT) AS cj,
             (i.range - 10) / 16.0 AS l, (j.range - 10) / 16.0 AS m
      FROM range(21) i, range(21) j
    ),
    beams AS (
      SELECT c.ci, c.cj, ct.field_id,
             CAST(floor(exp(-((c.l - ct.lc) * (c.l - ct.lc)
                             + (c.m - ct.mc) * (c.m - ct.mc))
                            * {_MOSAIC_BEAM_C!r}) * 1000000000.0 + 0.5) AS BIGINT)
               / 1000000000.0 AS a
      FROM cells c, centres ct
    )
    SELECT b.ci, b.cj,
           CAST(SUM(CAST(floor(b.a * b.a * s.s_w * 0.000001 + 0.5) AS BIGINT))
                AS BIGINT) AS wsum_q,
           CAST(SUM(CASE WHEN b.a > 0.01 THEN 1 ELSE 0 END) AS INT)
             AS n_pointings
    FROM beams b JOIN sens s USING (field_id)
    GROUP BY b.ci, b.cj
    ORDER BY b.ci, b.cj
    """
)


@register("sault_mosaic_weights", _MOSAIC_SQL)
def sault_mosaic_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-mosaic sensitivity map: W(x) = Σ_p A_p(x)²·S_p over the
    three weekly-cycle pointings, S_p = the pointing's summed data
    weights (exact ints), A_p a dyadic-argument Gaussian beam with
    1e-9-quantized output. 441 image cells at any data scale; the only
    fact-scale work is the per-field weight sum."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    sens = vis.groupBy(
        (F.floor(F.col("time") / F.lit(604800.0)).cast("long") % 3)
        .cast("int").alias("field_id")
    ).agg(qsum(F.col("weight"), 1e6).alias("s_w"))
    centres = local_frame(
        spark,
        [(p, lc, mc) for p, (lc, mc) in enumerate(_MOSAIC_CENTRES)],
        "field_id int, lc double, mc double",
    )
    cells = spark.range(21).select(
        F.col("id").cast("int").alias("ci")
    ).crossJoin(
        spark.range(21).select(F.col("id").cast("int").alias("cj"))
    ).select(
        "ci", "cj",
        ((F.col("ci") - 10) / F.lit(16.0)).alias("l"),
        ((F.col("cj") - 10) / F.lit(16.0)).alias("m"),
    )
    r2 = (
        (F.col("l") - F.col("lc")) * (F.col("l") - F.col("lc"))
        + (F.col("m") - F.col("mc")) * (F.col("m") - F.col("mc"))
    )
    # quantize spelling, not Spark ROUND: ROUND(double) is BigDecimal
    # half-up on the exact expansion and forks from DuckDB's
    # double-rounding at grid boundaries (parity rule 1); exp ≥ 0 so
    # the sign-aware form reduces to +0.5 truncation
    a = (
        F.expr(
            f"CAST(exp(-(((l - lc) * (l - lc)) + ((m - mc) * (m - mc)))"
            f" * {_MOSAIC_BEAM_C!r}) * 1000000000.0 + 0.5 AS BIGINT)"
        ) / F.lit(1e9)
    )
    beams = cells.crossJoin(F.broadcast(centres)).select(
        "ci", "cj", "field_id", a.alias("a")
    )
    return (
        beams.join(F.broadcast(sens), "field_id")
        .groupBy("ci", "cj")
        .agg(
            F.sum(
                F.expr("CAST(a * a * s_w * 0.000001 + 0.5 AS BIGINT)")
            ).cast("long").alias("wsum_q"),
            F.sum((F.col("a") > 0.01).cast("int")).cast("int")
            .alias("n_pointings"),
        )
        .orderBy("ci", "cj")
    )


# ---------------------------------------------------------------------------
# r10: uv-coverage completeness vs time — the synthesis-imaging
# scheduling question (how fast does Earth rotation fill the uv plane,
# when does more integration stop buying PSF quality). Per uv cell the
# FIRST time it is sampled (map-side MIN — the Heaps-law shape on the
# radio side), bucketed into tenths of the observation span; report
# new + cumulative cell counts per tenth. Times are integral seconds,
# so the decile assignment is pure integer arithmetic — no float
# anywhere in the query.
# ---------------------------------------------------------------------------

_UV_FILL_SQL = _with_ms(
    """
    , firsts AS (
      SELECT CAST(FLOOR(u / 10.0) AS BIGINT) AS cu,
             CAST(FLOOR(v / 10.0) AS BIGINT) AS cv,
             CAST(MIN(time) AS BIGINT) AS t_first
      FROM vis GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(MIN(time) AS BIGINT) AS t0, CAST(MAX(time) AS BIGINT) AS t1
      FROM vis
    ),
    newc AS (
      SELECT CAST(((f.t_first - s.t0) * 10) // (s.t1 - s.t0 + 1) AS INT)
               AS decile,
             COUNT(*) AS n_new_cells
      FROM firsts f, span s GROUP BY 1
    ),
    grid AS (SELECT CAST(d.range AS INT) AS decile FROM range(10) d)
    SELECT g.decile,
           CAST(COALESCE(n.n_new_cells, 0) AS BIGINT) AS n_new_cells,
           CAST(SUM(COALESCE(n.n_new_cells, 0)) OVER (
             ORDER BY g.decile ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_cells
    FROM grid g LEFT JOIN newc n USING (decile)
    ORDER BY g.decile
    """
)


@register("uv_completeness_vs_time", _UV_FILL_SQL)
def uv_completeness_vs_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative uv-plane fill per tenth of the observation span (see
    _UV_FILL_SQL). Fact work: one (cell)-grain MIN agg + two scalar
    aggs; the decile rollup and cumulative window run on ≤ 441 cells /
    10 rows."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    firsts = vis.groupBy(
        F.floor(F.col("u") / F.lit(10.0)).cast("long").alias("cu"),
        F.floor(F.col("v") / F.lit(10.0)).cast("long").alias("cv"),
    ).agg(F.min("time").cast("long").alias("t_first"))
    span = vis.agg(
        F.min("time").cast("long").alias("t0"),
        F.max("time").cast("long").alias("t1"),
    )
    newc = (
        firsts.crossJoin(F.broadcast(span))
        .select(
            F.expr("CAST(((t_first - t0) * 10) DIV (t1 - t0 + 1) AS INT)")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new_cells"))
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("decile"))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        grid.join(newc, "decile", "left")
        .select(
            "decile",
            F.coalesce(F.col("n_new_cells"), F.lit(0)).cast("long")
            .alias("n_new_cells"),
        )
        .withColumn("cum_cells", F.sum("n_new_cells").over(w).cast("long"))
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# r10: PSF radial sidelobe profile — the synthesis-QA companion of
# fft_psf_image: peak |PSF| and integrated power per FFT-wrapped radial
# annulus (sidelobe levels drive CLEAN depth and dynamic-range limits;
# high first-sidelobe = poor uv coverage, see uv_completeness_vs_time).
# Rides the EXISTING psf oracle verbatim as a subquery; annuli from
# integer radii (floor(sqrt(int)) is boundary-safe — perfect squares
# hit exact doubles); power terms on the 1e-12 grid via the shared
# floor(+0.5) spelling.
# ---------------------------------------------------------------------------

_PSF_PROFILE_ORACLE = f"""
  WITH px AS (SELECT y, x, value FROM ({_FFT_PSF_ORACLE})),
  ann AS (
    SELECT CAST(FLOOR(SQRT(CAST(
             LEAST(y, 32 - y) * LEAST(y, 32 - y)
             + LEAST(x, 32 - x) * LEAST(x, 32 - x) AS DOUBLE))) AS INT)
             AS annulus,
           value
    FROM px
  )
  SELECT annulus,
         COUNT(*) AS n_pix,
         MAX(abs(value)) AS peak_abs,
         CAST(SUM(CAST(FLOOR(value * value * 1000000000000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS power_q
  FROM ann GROUP BY annulus ORDER BY annulus
"""


@register("psf_sidelobe_profile", _PSF_PROFILE_ORACLE)
def psf_sidelobe_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial PSF sidelobe profile (see _PSF_PROFILE_ORACLE): annulus
    peak |PSF| and 1e-12-grid integrated power over the 32x32 PSF
    image. Image cost identical to fft_psf_image (cluster grid agg +
    driver FFT); the rollup runs on 1024 pixels."""
    import math as _math

    vis = tpch_ms.vis_table(spark, sf_dir).withColumn(
        "vis_re", F.lit(1.0)
    ).withColumn("vis_im", F.lit(0.0))
    img, wsum = fft_op.dirty_image(vis, nx=32, ny=32)
    rows = {}
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            v = round(float(img[y, x]), 6)
            ry, rx = min(y, 32 - y), min(x, 32 - x)
            ann = int(_math.floor(_math.sqrt(float(ry * ry + rx * rx))))
            n, pk, pw = rows.get(ann, (0, 0.0, 0))
            rows[ann] = (
                n + 1,
                max(pk, abs(v)),
                pw + int(_math.floor(v * v * 1e12 + 0.5)),
            )
    return local_frame(
        spark,
        [(a, n, pk, pw) for a, (n, pk, pw) in sorted(rows.items())],
        "annulus int, n_pix long, peak_abs double, power_q long",
    ).orderBy("annulus")


# ---------------------------------------------------------------------------
# r10: W-projection plane planner (wsclean -nwlayers / CASA wprojplanes
# sizing): per field, the number of w-planes needed to keep the
# per-plane phase error Δφ = K·Δw under each tolerance, where
# K = π·θ_fov²·ν_max/c is a SHARED PYTHON LITERAL interpolated into
# both engines (the delay-spectrum/uv-taper pattern) and Δw = w-span /
# n_planes. w extents are exact 1e-6 ints; the plane count is a ceil of
# identical doubles.
# ---------------------------------------------------------------------------

_WPROJ_K = 0.044851083469766  # π · (0.05 rad)² · (2·856 MHz / c)
_WPROJ_EPS = [(0, 0.1), (1, 0.01), (2, 0.001)]

_WPROJ_ORACLE = _with_ms(
    f"""
    , wstats AS (
      SELECT CAST(CAST(FLOOR(time / 604800.0) AS BIGINT) % 3 AS INT)
               AS field_id,
             MIN(CAST(ROUND(w * 1000000.0) AS BIGINT)) AS wmin_q,
             MAX(CAST(ROUND(w * 1000000.0) AS BIGINT)) AS wmax_q,
             COUNT(*) AS n_rows
      FROM vis GROUP BY 1
    ),
    eps(eps_id, eps) AS (VALUES {", ".join(f"({i}, {e!r})" for i, e in _WPROJ_EPS)})
    SELECT w.field_id, e.eps_id, w.n_rows,
           w.wmin_q / 1000000.0 AS w_min,
           w.wmax_q / 1000000.0 AS w_max,
           CAST(CEIL(((w.wmax_q - w.wmin_q) / 1000000.0) * {_WPROJ_K!r} / e.eps)
                AS BIGINT) + 1 AS n_planes
    FROM wstats w, eps e
    ORDER BY w.field_id, e.eps_id
    """
)


@register("wproj_planes_planner", _WPROJ_ORACLE)
def wproj_planes_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field w-plane count recommendation per phase-error tolerance
    (see _WPROJ_ORACLE). Fact work: one field-grain min/max agg; the
    planner matrix is fields × tolerances = 9 rows."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    wstats = vis.groupBy(
        (F.floor(F.col("time") / F.lit(604800.0)).cast("long") % 3)
        .cast("int").alias("field_id")
    ).agg(
        F.min(quantize_w := F.expr(
            "CAST(w * 1000000.0 + (CASE WHEN w >= 0 THEN 0.5 ELSE -0.5 END) "
            "AS BIGINT)"
        )).alias("wmin_q"),
        F.max(quantize_w).alias("wmax_q"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    eps = local_frame(spark, _WPROJ_EPS, "eps_id int, eps double")
    span = (F.col("wmax_q") - F.col("wmin_q")) / F.lit(1e6)
    return (
        wstats.crossJoin(F.broadcast(eps))
        .select(
            "field_id", "eps_id", "n_rows",
            (F.col("wmin_q") / F.lit(1e6)).alias("w_min"),
            (F.col("wmax_q") / F.lit(1e6)).alias("w_max"),
            (
                F.ceil(span * F.lit(_WPROJ_K) / F.col("eps")).cast("long")
                + F.lit(1)
            ).alias("n_planes"),
        )
        .orderBy("field_id", "eps_id")
    )
