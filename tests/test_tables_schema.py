"""`sources.tables.load` declares the schema Spark inferred on the first
read of a path, so a warm read launches no job. The memo must equal a
fresh inference for every table, and a rewritten file must not be read
with the schema of the file it replaced."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from codex_africanus_spark.sources.tables import TABLES, load

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def _jobs(spark, action):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = action()
    return dag.nextJobId() - j0, out


def _inferred(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_memoized_schema_equals_fresh_inference(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not generated")
    for name in TABLES:
        load(spark, name, sf_dir)
        n, warm = _jobs(spark, lambda: load(spark, name, sf_dir))
        assert n == 0, f"{name}: warm read launched {n} jobs"
        assert warm.schema == _inferred(spark, sf_dir, name), name


def test_rewritten_file_invalidates_its_entry(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    n, _ = _jobs(spark, lambda: load(spark, "region", str(tmp_path)))
    assert n == 0
    pq.write_table(pa.table({"r_regionkey": [0], "r_name": ["AFRICA"]}), path)
    got = load(spark, "region", str(tmp_path))
    assert got.schema == _inferred(spark, str(tmp_path), "region")
    assert got.columns == ["r_regionkey", "r_name"]
    assert got.count() == 1
