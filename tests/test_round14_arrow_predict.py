"""Round-14 Arrow sincos tier locks: the per-row source fold
(operators/predict_arrow) must stay bit-identical to the JVM
expand-join-aggregate path for every adopting query family, at every
scale the driver verifies (sf0.001 default; sf0.01/sf0.1 in the slow
selection — all three were green at adoption). Same quantized integer
multiset + associative int64 sum; the only numeric divergence sources
(numpy vs JVM cos/sin/exp/pow) are flip-rate-measured to land on the
same 1e-6 grid (tools/sincos_fliprate.py: zero flips through sf10)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import predict as predict_op
from codex_africanus_spark.operators import predict_arrow
from codex_africanus_spark.plans import rime as rime_plan
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import localize
from tests.test_predict_build import _jobs

KEY = ["row_id", "antenna1", "antenna2", "chan"]
RIME_SPEC = "(Kpq, Bpq, Epq): [I,Q,U,V] -> [XX,XY,YX,YY]"


def _bitcompare(a_df, b_df):
    assert [f.dataType for f in a_df.schema] == [f.dataType for f in b_df.schema]
    a = a_df.toPandas().sort_values(KEY).reset_index(drop=True)
    b = b_df.toPandas().sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert (av.view(np.int64) == bv.view(np.int64)).all(), c
        else:
            assert (av == bv).all(), c


def _both_paths(monkeypatch, build):
    folded = build()
    # a zero closure bound forces the JVM expand path
    with monkeypatch.context() as m:
        m.setattr(predict_arrow, "ARROW_MAX_SRC", 0)
        expanded = build()
    return folded, expanded


# the fold's two input regimes, forced through its task-count gate: one
# narrow task (every sf0.001 input fits), or the row_id hash exchange
REGIMES = {"one_task": 1 << 62, "width": 0}


def _in_regimes(monkeypatch):
    """Yield each regime name with the fold forced into it."""
    for name, addends in REGIMES.items():
        monkeypatch.setattr(predict_arrow, "FOLD_ONE_TASK_ADDENDS", addends)
        yield name


def _builders(spark, sf):
    vis = tpch_ms.vis_table(spark, sf)
    src = tpch_ms.source_table(spark, sf)
    gains = tpch_ms.gains_table(spark)
    return {
        "point_shape": lambda: predict_op.predict_point_vis(vis, src),
        "point_noshape": lambda: predict_op.predict_point_vis(
            vis, src.filter(F.col("source_type") == "POINT"), with_shape=False
        ),
        "full_corr": lambda: predict_op.predict_full_corr(vis, src, gains),
        "rime_kbe": lambda: rime_plan.rime(RIME_SPEC, vis, src),
    }


@pytest.mark.parametrize("path", ["point_shape", "point_noshape", "full_corr", "rime_kbe"])
def test_fold_matches_expand(spark, sf_dir, monkeypatch, path):
    build = _builders(spark, sf_dir)[path]
    folded, expanded = _both_paths(monkeypatch, build)
    _bitcompare(folded, expanded)


@pytest.mark.slow
@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
@pytest.mark.parametrize("path", ["point_shape", "point_noshape", "full_corr", "rime_kbe"])
def test_fold_matches_expand_driver_scales(spark, monkeypatch, sf, path):
    build = _builders(spark, sf)[path]
    folded, expanded = _both_paths(monkeypatch, build)
    _bitcompare(folded, expanded)


def test_fold_dispatches_on_bench_queries(spark, sf_dir):
    """The bench queries must actually take the Arrow tier (a silent
    fallback would leave the optimization OFF while tests stay green):
    the fold plan carries a MapInArrow node and no
    BroadcastNestedLoop/BroadcastHashJoin."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    plan = predict_op.predict_point_vis(vis, src)._jdf.queryExecution().toString()
    assert "MapInArrow" in plan
    assert "Join" not in plan


def test_fold_collapses_duplicate_keys(spark, sf_dir, monkeypatch):
    """Rows sharing (row_id, a1, a2, chan) must merge in the fold's
    group-by sum exactly as the expand path's aggregate merges them."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    dup = vis.unionByName(vis.limit(7))
    src = tpch_ms.source_table(spark, sf_dir)
    distinct_keys = vis.select(*KEY).distinct().count()
    folded, expanded = _both_paths(
        monkeypatch, lambda: predict_op.predict_point_vis(dup, src)
    )
    # duplicates collapsed to the key grain, not appended (the sf0.001
    # corpus itself carries 6000 rows over 5939 distinct keys)
    assert folded.count() == distinct_keys
    _bitcompare(folded, expanded)


def test_fold_gates(spark, sf_dir, monkeypatch):
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    # missing source column -> fallback
    assert predict_arrow.point_fold(vis, src.drop("spi")) is None
    # missing vis column -> fallback
    assert predict_arrow.point_fold(vis.drop("u"), src) is None
    # catalogue over the closure bound -> fallback (a bound of 0 is how
    # tests force the expand path)
    for bound in (3, 0):
        monkeypatch.setattr(predict_arrow, "ARROW_MAX_SRC", bound)
        assert predict_arrow.point_fold(vis, src) is None
        assert predict_arrow.full_corr_fold(vis, src) is None
    monkeypatch.undo()
    # empty catalogue -> fallback (the expand path emits zero rows; a
    # fold would emit zero-valued rows instead)
    empty = src.filter(F.lit(False))
    assert predict_arrow.point_fold(vis, empty) is None
    assert predict_arrow.full_corr_fold(vis, empty) is None


def test_rime_fold_gates_on_exact_standard_terms(spark, sf_dir):
    """Custom/overridden terms must keep the general compiled path (the
    _HoistedBrightness discipline): an overridden B means no Arrow fold."""

    class MyBrightness(rime_plan.BrightnessTerm):
        pass

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    df = rime_plan.rime(RIME_SPEC, vis, src, terms={"B": MyBrightness})
    assert "MapInArrow" not in df._jdf.queryExecution().toString()


# the three callers of the fold, each over the sf0.001 corpus (6000 rows
# over 5939 distinct keys, so duplicate keys are present)
FOLD_CALLERS = ["point_shape", "full_corr", "rime_kbe"]


@pytest.mark.parametrize("path", FOLD_CALLERS)
def test_fold_merges_duplicates_across_tiny_batches(spark, sf_dir, monkeypatch, path):
    """With 3-row Arrow batches a duplicated key's rows land in different
    batches, so only the fold's end-of-partition group-by can merge them,
    whether the input is one partition or hash partitioned."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        for _ in _in_regimes(monkeypatch):
            build = _builders(spark, sf_dir)[path]
            folded, expanded = _both_paths(monkeypatch, build)
            _bitcompare(folded, expanded)
    finally:
        spark.conf.set(conf, old)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("path", FOLD_CALLERS)
def test_small_fold_is_one_narrow_task(spark, sf_dir, path):
    """At sf0.001 the fold's work is under FOLD_ONE_TASK_ADDENDS: its
    input is the scan coalesced to one partition, with no shuffle
    exchange anywhere (the gains joins broadcast) and no aggregate above
    the fold."""
    plan = _plan(_builders(spark, sf_dir)[path]())
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
    above, _, below = plan.partition("MapInArrow")
    assert "HashAggregate" not in above, plan
    # the fold's child is the one-partition Coalesce
    assert below.split("\n")[1].endswith("+- Coalesce 1"), plan


@pytest.mark.parametrize("path", FOLD_CALLERS)
def test_fold_is_one_arrow_stage_over_one_exchange(spark, sf_dir, monkeypatch, path):
    """In the width regime the fold's input is one by-number hash exchange
    on row_id (no round-robin fan-out), the kernel is MapInArrow, and no
    aggregate sits above it: the fold's rows are the final model rows."""
    monkeypatch.setattr(predict_arrow, "FOLD_ONE_TASK_ADDENDS", 0)
    plan = _plan(_builders(spark, sf_dir)[path]())
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning(row_id") == 1, plan
    assert "RoundRobinPartitioning" not in plan, plan
    above, _, below = plan.partition("MapInArrow")
    assert "HashAggregate" not in above, plan
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert f", {width}), REPARTITION_BY_NUM" in below


def test_task_count_gate_boundary(spark, sf_dir, monkeypatch):
    """Work (rows × sources × output columns) equal to the constant runs
    as one task; one addend more takes the width regime."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    work = vis.count() * src.count() * 2
    for addends, one_task in ((work, True), (work - 1, False)):
        monkeypatch.setattr(predict_arrow, "FOLD_ONE_TASK_ADDENDS", addends)
        plan = _plan(predict_op.predict_point_vis(vis, src))
        assert ("Coalesce 1" in plan) is one_task, plan
        assert ("Exchange hashpartitioning(row_id" in plan) is not one_task, plan


def test_unsized_vis_takes_the_width_regime_without_a_job(spark, sf_dir):
    """A vis no parquet footer sizes (a LocalRelation here) keeps the
    row_id exchange, and the gate launches no job to size it."""
    vis = localize(tpch_ms.vis_table(spark, sf_dir).limit(500))
    src = tpch_ms.source_table(spark, sf_dir)
    predict_op.predict_point_vis(vis, src)  # reads the catalogue once
    n, df = _jobs(spark, "fold-unsized-vis", lambda: predict_op.predict_point_vis(vis, src))
    assert n == 0, f"the fold's build launched {n} jobs"
    plan = _plan(df)
    assert "Coalesce" not in plan, plan
    assert plan.count("Exchange hashpartitioning(row_id") == 1, plan


def _huge_catalogue(src, flux):
    return src.withColumn("flux_i", F.lit(flux))


def test_fold_overflow_raises_like_the_expand_path(spark, sf_dir, monkeypatch):
    """An addend past 2^63 on the 1e-6 grid: the JVM path's ANSI cast
    raises, and so must the fold instead of wrapping to INT64_MIN, in
    either input regime."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = _huge_catalogue(tpch_ms.source_table(spark, sf_dir), 1e16)
    for _ in _in_regimes(monkeypatch):
        folded, expanded = _both_paths(
            monkeypatch, lambda: predict_op.predict_point_vis(vis, src, with_shape=False)
        )
        assert "MapInArrow" in folded._jdf.queryExecution().toString()
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW.*quantized addend"):
            folded.collect()
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            expanded.collect()


def test_fold_overflow_raises_on_a_row_sum_bound(spark, sf_dir, monkeypatch):
    """Every addend fits in int64 (|addend| <= 1e18), but 25 of them
    could not be summed in one: the fold refuses instead of wrapping, in
    either input regime."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = _huge_catalogue(tpch_ms.source_table(spark, sf_dir), 1e12)
    for _ in _in_regimes(monkeypatch):
        folded = predict_op.predict_point_vis(vis, src, with_shape=False)
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW.*row's sum"):
            folded.collect()


def _centred_catalogue(src, flux):
    """Every source at the phase centre with a flat spectrum: each addend
    is exactly flux × 1e6 on the grid in both paths (at 1e17 a trig or
    pow ULP would move the grid point)."""
    return src.withColumns({
        "l": F.lit(0.0), "m": F.lit(0.0), "n": F.lit(1.0), "spi": F.lit(0.0),
        "flux_i": F.lit(flux),
    })


def test_fold_merged_key_bound_counts_the_key_rows(spark, sf_dir, monkeypatch):
    """flux_i = 1e11 makes each addend 1e17 and the row-sum bound R
    2.5e18 (25 sources). No sf0.001 key has more than 2 rows, and 3R <
    2^63: every merged sum fits, so the fold must finish and equal the
    expand path bit for bit. A bound of (rows - keys + 1) × R would
    refuse: 62 × R in one task, and each width-regime task holds several
    duplicate rows."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = _centred_catalogue(tpch_ms.source_table(spark, sf_dir), 1e11)
    for _ in _in_regimes(monkeypatch):
        folded, expanded = _both_paths(
            monkeypatch, lambda: predict_op.predict_point_vis(vis, src, with_shape=False)
        )
        _bitcompare(folded, expanded)


def test_fold_overflow_raises_on_a_merged_key(spark, sf_dir, monkeypatch):
    """flux_i = 2e11: every row sum is 5e18 and fits, but a key with two
    rows sums to 1e19. The JVM path's ANSI sum raises, and so must the
    fold instead of letting the hash sum wrap, in either regime."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = _centred_catalogue(tpch_ms.source_table(spark, sf_dir), 2e11)
    for _ in _in_regimes(monkeypatch):
        folded, expanded = _both_paths(
            monkeypatch, lambda: predict_op.predict_point_vis(vis, src, with_shape=False)
        )
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW.*merged sum"):
            folded.collect()
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            expanded.collect()
