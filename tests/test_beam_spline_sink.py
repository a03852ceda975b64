"""NumPy-oracle tests for the gather-heavy / per-group operators the SQL
oracle cannot check (SURVEY §5 backend-equivalence style), plus the
write-back sink contract."""

import numpy as np
from pyspark.sql import functions as F

from codex_africanus_spark.operators import beam as beam_op
from codex_africanus_spark.operators import splines as spline_op
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.sink import write_model_data


def test_beam_cube_matches_numpy_trilinear(spark):
    beam = beam_op.make_test_beam_cube()
    pts = [(i, -0.08 + 0.011 * i, 0.05 - 0.009 * i, 9.0e8 + 5e7 * i) for i in range(20)]
    df = spark.createDataFrame(pts, "id int, l double, m double, frequency double")
    out = (
        beam_op.beam_cube_dde(df, beam)
        .orderBy("id")
        .toPandas()
    )

    def trilinear(l, m, f):
        lg, mg, fg, cube = beam["l_grid"], beam["m_grid"], beam["f_grid"], beam["cube"]

        def ax(grid, x):
            i = np.clip(np.searchsorted(grid, x, side="right") - 1, 0, len(grid) - 2)
            return i, np.clip((x - grid[i]) / (grid[i + 1] - grid[i]), 0, 1)

        li, lw = ax(lg, l)
        mi, mw = ax(mg, m)
        fi, fw = ax(fg, f)
        val = 0.0
        for dl in (0, 1):
            for dm in (0, 1):
                for df_ in (0, 1):
                    w = ((lw if dl else 1 - lw) * (mw if dm else 1 - mw)
                         * (fw if df_ else 1 - fw))
                    val += w * cube[li + dl, mi + dm, fi + df_]
        return val

    expected = [trilinear(l, m, f) for _, l, m, f in pts]
    np.testing.assert_allclose(out.beam_gain.to_numpy(), expected, rtol=1e-12)


def test_beam_cube_clamps_outside_grid(spark):
    beam = beam_op.make_test_beam_cube()
    df = spark.createDataFrame(
        [(0, 10.0, -10.0, 1.0)], "id int, l double, m double, frequency double"
    )
    out = beam_op.beam_cube_dde(df, beam).collect()[0]
    assert np.isfinite(out.beam_gain)


def test_spline_interpolates_knots(spark):
    rng = np.random.default_rng(3)
    rows = []
    for k in range(3):
        xs = np.sort(rng.uniform(0, 10, 8))
        ys = rng.standard_normal(8)
        rows += [(k, float(x), float(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "key long, x double, y double")
    out = spline_op.evaluate_spline_dense(df, n_eval=64).toPandas()
    # dense eval range spans the knots; endpoints must reproduce y exactly
    for k in range(3):
        grp = [r for r in rows if r[0] == k]
        sub = out[out.key == k].sort_values("x_eval")
        np.testing.assert_allclose(sub.y_eval.iloc[0], grp[0][2], rtol=1e-9)
        np.testing.assert_allclose(sub.y_eval.iloc[-1], grp[-1][2], rtol=1e-9)


def test_spline_exact_on_linear_data(spark):
    rows = [(0, float(x), 2.5 * x - 1.0) for x in range(10)]
    df = spark.createDataFrame(rows, "key long, x double, y double")
    out = spline_op.evaluate_spline_dense(df, n_eval=33).toPandas()
    np.testing.assert_allclose(
        out.y_eval.to_numpy(), 2.5 * out.x_eval.to_numpy() - 1.0, atol=1e-9
    )


def test_write_model_data_roundtrip(spark, sf_dir, tmp_path):
    """xds_to_table analogue: partitioned write + pruned read-back."""
    vis = tpch_ms.vis_table(spark, sf_dir).withColumn(
        "model_data_re", F.col("vis_re") * 2.0
    )
    path = str(tmp_path / "model_out")
    write_model_data(
        vis, path, partition_by=["chan"], sort_within=["time", "antenna1", "antenna2"]
    )
    back = spark.read.parquet(path)
    assert back.count() == vis.count()
    # partition pruning: reading one chan touches one directory
    one = back.filter(F.col("chan") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() == vis.filter(F.col("chan") == 3).count()
