"""CLI predict entry point (the reference's examples/predict.py user
surface, §3.1) driven in-process."""

import os

from pyspark.sql import functions as F

from codex_africanus_spark.cli import main
from codex_africanus_spark.plans import rime as rime_plan
from codex_africanus_spark.sources import tpch_ms
import pytest


@pytest.mark.slow
def test_cli_predict_writes_model_data(spark, sf_dir, tmp_path):
    out = str(tmp_path / "model")
    rc = main([
        "predict", "--sf-dir", sf_dir, "--spec", "(Kpq, Bpq)",
        "--output", out, "--cpus", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    want = rime_plan.rime(
        "(Kpq, Bpq)",
        tpch_ms.vis_table(spark, sf_dir),
        tpch_ms.source_table(spark, sf_dir),
    )
    assert got.count() == want.count()
    # value parity on a bounded slice (full parity is the oracle suite's
    # job; the CLI must produce the same frame)
    g = {(r.row_id, r.antenna1, r.antenna2, r.chan): (r.vis_re, r.vis_im)
         for r in got.filter("row_id < 200").collect()}
    w = {(r.row_id, r.antenna1, r.antenna2, r.chan): (r.vis_re, r.vis_im)
         for r in want.filter("row_id < 200").collect()}
    assert g and g == w


@pytest.mark.slow
def test_cli_predict_wsclean_sky_model(spark, sf_dir, tmp_path):
    """--sky-model: radec-only WSClean catalogue flows through the
    compiler's LMTransformer."""
    from codex_africanus_spark.queries.imaging import _write_wsclean_file

    model_file = _write_wsclean_file(sf_dir)
    out = str(tmp_path / "model_ws")
    rc = main([
        "predict", "--sf-dir", sf_dir, "--spec", "(Kpq, Bpq)",
        "--sky-model", model_file, "--phase-centre", "0.5", "-0.6",
        "--output", out, "--cpus", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert {"row_id", "antenna1", "antenna2", "chan", "vis_re", "vis_im"} <= set(got.columns)
    vals = got.select(F.sum(F.abs("vis_re")).alias("s")).collect()[0].s
    assert vals > 0  # the screen actually predicted something


def test_cli_predict_apply_gains(spark, sf_dir, tmp_path):
    out = str(tmp_path / "model_g")
    rc = main([
        "predict", "--sf-dir", sf_dir, "--spec", "(Kpq, Bpq)",
        "--apply-gains", "--output", out, "--cpus", "4",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert "corrupted_re" in got.columns or "vis_re" in got.columns
    assert os.path.isdir(out)
