"""Building a predict-family plan launches no Spark job once its source
catalogue has been read: `tables.collect_small` keeps the collected rows
for later builds over the same, unchanged input files. A rewritten file,
a catalogue that no file fixes, and a size gate lowered after the first
build must each still behave as a fresh collect would."""

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

from codex_africanus_spark.operators import predict_arrow
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import local_frame
from tests.conftest import fuzz_compare


def _jobs(spark, group, action):
    """(jobs `action` launched, its result), counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture
def collects(spark, monkeypatch):
    """Counts DataFrame.collect calls (the catalogue read is one)."""
    cls = type(spark.range(1))
    orig = cls.collect
    calls = []

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    return calls


@pytest.mark.parametrize(
    "name",
    ["predict_vis_point_gauss", "predict_full_corr_2x2", "compute_and_corrupt_vis_dde"],
)
def test_second_build_runs_no_job(spark, sf_dir, name):
    fn = registry()[name].fn
    fn(spark, sf_dir)
    n, _ = _jobs(spark, f"{name}-warm-build", lambda: fn(spark, sf_dir))
    assert n == 0, f"warm build of {name} launched {n} jobs"


def test_rewritten_catalogue_file_is_read_again(spark, sf_dir, tmp_path, collects):
    d = str(tmp_path)
    for t in ("lineitem", "nation"):
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), d)
    q = registry()["predict_vis_point_gauss"]
    q.fn(spark, d)

    # new values, same schema: 20 sources with other keys
    nation = pq.read_table(os.path.join(d, "nation.parquet")).slice(0, 20)
    keys = nation.column("n_nationkey").to_numpy() * 2 + 1
    nation = nation.set_column(
        nation.schema.get_field_index("n_nationkey"),
        nation.schema.field("n_nationkey"),
        [keys.astype(nation.schema.field("n_nationkey").type.to_pandas_dtype())],
    )
    pq.write_table(nation, os.path.join(d, "nation.parquet"))

    del collects[:]
    got = q.fn(spark, d)
    assert len(collects) == 1, "the rewritten catalogue must be collected once"
    n, _ = _jobs(spark, "predict-after-rewrite", lambda: q.fn(spark, d))
    assert n == 0 and len(collects) == 1

    con = duckdb.connect()
    for t in ("lineitem", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    want = con.execute(q.oracle).df()
    fuzz_compare(got.toPandas(), want, "predict over the rewritten nation file")


def test_local_catalogue_is_collected_every_build(spark, sf_dir, collects):
    src = tpch_ms.source_table(spark, sf_dir)
    local = local_frame(spark, src.toArrow(), src.schema)
    vis = tpch_ms.vis_table(spark, sf_dir)
    for _ in range(2):
        del collects[:]
        assert predict_arrow.point_fold(vis, local) is not None
        assert len(collects) == 1


def test_lowered_source_gate_after_memoized_build(spark, sf_dir, monkeypatch):
    q = registry()["predict_vis_point_gauss"]
    assert "MapInArrow" in q.fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    monkeypatch.setattr(predict_arrow, "ARROW_MAX_SRC", 0)
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    assert predict_arrow.point_fold(vis, src) is None
    n, df = _jobs(spark, "predict-gate-0", lambda: q.fn(spark, sf_dir))
    assert n == 0
    assert "MapInArrow" not in df._jdf.queryExecution().analyzed().toString()
