"""Round-7 advice fixes: single-bin gain interpolation, fan_out
idempotence via a real plan walk, and the overflow-safe occupancy ppm."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import calibration as cal_op
from codex_africanus_spark.sources.tables import fan_out


BIN = 2_592_000.0


def _single_bin_vis(spark):
    # every row inside bin k=3 -> lo == hi == 3 (the r7-advice case)
    rows = [
        ((3 + f) * BIN, a1, a2, rid)
        for rid, (f, a1, a2) in enumerate(
            [(0.1, 0, 1), (0.4, 1, 2), (0.7, 2, 3), (0.95, 3, 4)]
        )
    ]
    return spark.createDataFrame(
        rows, "time double, antenna1 int, antenna2 int, row_id long"
    )


def test_gains_interp_single_bin_returns_constant_gains(spark):
    """hi == lo used to clamp k0 to lo-1 and drop EVERY row through the
    bracket joins; applycal semantics are clamped-constant gains."""
    vis = _single_bin_vis(spark)
    out = cal_op.gains_time_interp(vis).orderBy("row_id").collect()
    assert len(out) == 4  # row-preserving, not empty
    k = 3
    for r in out:
        for ant, tag in ((r.antenna1, "g1"), (r.antenna2, "g2")):
            amp = 1.0 + ant / 50.0 + (k % 5) / 100.0
            want_re = amp * math.cos(k * 0.05 + ant * 0.3)
            want_im = amp * math.sin(k * 0.05 + ant * 0.3)
            assert abs(getattr(r, f"{tag}_re_q") / 1e9 - want_re) < 2e-9
            assert abs(getattr(r, f"{tag}_im_q") / 1e9 - want_im) < 2e-9


def test_gains_interp_single_bin_matches_oracle(spark):
    """The SQL twin must implement the same single-bin special case."""
    vis = _single_bin_vis(spark)
    got = {
        (r.row_id, r.g1_re_q, r.g1_im_q, r.g2_re_q, r.g2_im_q)
        for r in cal_op.gains_time_interp(vis).collect()
    }
    con = duckdb.connect()
    pdf = vis.toPandas()
    con.register("vis", pdf)
    sql = "WITH base AS (SELECT 1)" + cal_op.GAINS_INTERP_SQL()
    want = {
        (r[0], r[3], r[4], r[5], r[6])
        for r in con.execute(sql).fetchall()
    }
    assert got == want and len(got) == 4


def test_fan_out_skips_after_prior_fan_out(spark, sf_dir):
    from codex_africanus_spark.sources.tables import load

    df = fan_out(load(spark, "orders", sf_dir))
    again = fan_out(df.select("o_orderkey"))
    plan = again._jdf.queryExecution().analyzed().toString()
    assert plan.count("Repartition") == 1  # no stacked second exchange


def test_fan_out_not_suppressed_by_coalesce(spark, sf_dir):
    """coalesce(1) also renders as Repartition; the old substring check
    treated it as 'already fanned out' and skipped the real exchange."""
    from codex_africanus_spark.sources.tables import load

    df = load(spark, "orders", sf_dir).coalesce(1)
    out = fan_out(df)
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= target


def test_flag_occupancy_ppm_decimal_path(spark, sf_dir):
    """occupancy_ppm goes through a decimal(38,0) multiply (no ANSI
    overflow at scale) and still equals the plain ratio."""
    from codex_africanus_spark.queries import registry

    out = registry()["flag_occupancy_waterfall"].fn(spark, sf_dir).limit(50).collect()
    assert out
    for r in out:
        assert r.occupancy_ppm == pytest.approx(
            r.n_flagged * 1_000_000 / r.n_samples
        )


@pytest.mark.slow
def test_incremental_ingest_idempotent_and_probe_only(spark, sf_dir, tmp_path):
    """Warm re-invocation must (a) return the identical report and
    (b) commit NOTHING — the probe-only contract; and the cold pass
    must have union-committed exactly the non-dup survivors with at
    least one shingle."""
    from codex_africanus_spark.operators import dedup as dedup_op
    from codex_africanus_spark.sources import snapshot as snap
    from codex_africanus_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir)
    root = str(tmp_path / "ingest")
    r1 = dedup_op.incremental_dedup_ingest(spark, docs, root).collect()
    versions = {t: snap.latest_version(f"{root}/{t}") for t in ("df", "sets", "prefix")}
    r2 = dedup_op.incremental_dedup_ingest(spark, docs, root).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    for t, v in versions.items():
        assert snap.latest_version(f"{root}/{t}") == v, f"warm call committed to {t}"
    committed_batch = {
        r.doc_id
        for r in snap.read_snapshot(spark, f"{root}/sets")
        .filter(F.col("doc_id") % dedup_op.INGEST_MODULUS == 0)
        .select("doc_id").distinct().collect()
    }
    want = {r.doc_id for r in r1 if r.is_dup == 0 and r.n_shingles > 0}
    assert committed_batch == want


def test_zorder_box_scan_actually_skips_files(spark, sf_dir):
    """The uv-box query must open a strict subset of the z-ordered
    files (manifest-stats skipping), and its result must equal the
    unpruned filter — pruning is a pure I/O optimization."""
    from codex_africanus_spark.queries import registry
    from codex_africanus_spark.queries.relational import (
        _ZORDER_BOX, _ensure_zorder_layout,
    )
    from codex_africanus_spark.sources import snapshot as snap

    root = _ensure_zorder_layout(spark, sf_dir)
    lo_u, hi_u, lo_v, hi_v = _ZORDER_BOX
    all_files = snap.snapshot_files(root + "/data")
    pruned = snap.read_snapshot_where(spark, root + "/data", "u_cell", lo_u, hi_u)
    assert 0 < len(pruned.inputFiles()) < len(all_files)
    full = (
        snap.read_snapshot(spark, root + "/data")
        .filter((F.col("u_cell") >= lo_u) & (F.col("u_cell") <= hi_u)
                & (F.col("v_cell") >= lo_v) & (F.col("v_cell") <= hi_v))
    )
    got = registry()["snapshot_zorder_uv_box_scan"].fn(spark, sf_dir).collect()
    want = sorted(
        (r.chan, r.cnt) for r in full.groupBy("chan").agg(
            F.count(F.lit(1)).alias("cnt")).collect()
    )
    assert sorted((r.chan, r.n_rows) for r in got) == want
