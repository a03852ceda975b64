"""Convergence / behavioural tests for the iterative and streaming
operators (the pieces the DuckDB oracle cannot check)."""

import numpy as np
from pyspark.sql import functions as F

from codex_africanus_spark.operators import predict as predict_op
from codex_africanus_spark.operators import spi as spi_op
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.streaming import windowed

from tests.conftest import await_done
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def test_gauss_newton_recovers_phases(spark, sf_dir):
    """Corrupt model vis with φ_a = 0.35·a, solve back: the reference's
    solver-recovery test pattern (calibration/tests/conftest.py)."""
    out = registry()["gauss_newton_phase_solve"].fn(spark, sf_dir).toPandas()
    expected = 0.35 * out.antenna.to_numpy()
    np.testing.assert_allclose(out.phase_rel.to_numpy(), expected, atol=2e-4)


def test_correct_undoes_corrupt(spark, sf_dir):
    """correct_vis(apply_gains(V)) ≈ V (adjointness-style identity,
    SURVEY §5 item 4)."""
    from codex_africanus_spark.operators import calibration as cal_op

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir).filter(F.col("source_type") == "POINT")
    gains = tpch_ms.gains_table(spark)
    model = predict_op.predict_point_vis(vis, src, with_shape=False)
    corrupted = predict_op.apply_gains(model, gains)
    corrected = cal_op.correct_vis(corrupted, gains)
    j = corrected.join(
        model.select("row_id", "antenna1", "antenna2", "chan", "model_re", "model_im"),
        ["row_id", "antenna1", "antenna2", "chan"],
    ).select(
        (F.abs(F.col("corrected_re") - F.col("model_re"))
         + F.abs(F.col("corrected_im") - F.col("model_im"))).alias("err")
    )
    assert j.agg(F.max("err")).collect()[0][0] < 1e-4


def test_spi_fit_recovers_catalogue(spark, sf_dir):
    out = registry()["fit_spi_components"].fn(spark, sf_dir).toPandas()
    src = tpch_ms.source_table(spark, sf_dir).toPandas().sort_values("source_id")
    np.testing.assert_allclose(out.alpha_fit, src.spi, atol=1e-5)
    np.testing.assert_allclose(out.i0_fit, src.flux_i, rtol=1e-5)


def test_streaming_sliding_matches_batch(spark, sf_dir, tmp_path):
    """AvailableNow sliding-window stream == batch twin (Kappa parity);
    every event lands in exactly window/slide = 2 windows."""
    stream = windowed.read_events_stream(spark, sf_dir)
    agg = windowed.sliding_window_stats(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    got = spark.sql(
        "SELECT event_type, CAST(window_start AS LONG) * 1000000 AS win_start_us, "
        "n_events, value_sum FROM sliding_test"
    ).toPandas()
    batch = registry()["events_sliding_window"].fn(spark, sf_dir).toPandas()
    assert len(got) == len(batch)
    key = ["event_type", "win_start_us"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    np.testing.assert_array_equal(got.win_start_us.to_numpy(), batch.win_start_us.to_numpy())
    np.testing.assert_array_equal(got.n_events.to_numpy(), batch.n_events.to_numpy())
    np.testing.assert_allclose(got.value_sum.to_numpy(), batch.value_sum.to_numpy())
    assert got.n_events.sum() == 2 * 1000  # 2 windows per event at sf0.001


def test_gauss_newton_bit_deterministic_across_partitioning(spark, sf_dir):
    """qsum gradient reductions make each iteration's (jhr, jhj) — and
    therefore the whole damped-update trajectory — bit-identical under
    any partitioning (the deterministic-mode guarantee extended to the
    iterative solver)."""
    from codex_africanus_spark.operators.calibration import gauss_newton_phase_only

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
    h1 = gauss_newton_phase_only(corrupted, model, n_ant=7, maxiter=3)
    h2 = gauss_newton_phase_only(
        corrupted.repartition(13), model.repartition(7), n_ant=7, maxiter=3
    )
    assert [h["max_delta"] for h in h1] == [h["max_delta"] for h in h2]
    assert h1[-1]["phases"] == h2[-1]["phases"]


def test_sessionize_stream_carry_across_arrow_batches(spark, sf_dir):
    """The mapInPandas sessionizer carries (user, ts, session) across
    Arrow batch boundaries; with a tiny batch size every user straddles
    batches, and the result must still equal the relational twin."""
    from codex_africanus_spark.operators import bda as bda_op
    from codex_africanus_spark.sources.tpch_ms import events_table

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        ev = events_table(spark, sf_dir)
        got = bda_op.sessionize(ev).toPandas()
        want = bda_op.sessionize_relational(ev).toPandas()
        key = ["user_id", "ts_us", "event_id"]
        import pandas as pd

        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True)[sorted(got.columns)],
            want.sort_values(key).reset_index(drop=True)[sorted(want.columns)],
            check_dtype=False,
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
