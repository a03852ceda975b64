"""Semantic property locks for the round-8 operators (beyond the
oracle parity the driver already checks)."""

import math

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.queries import corpus, imaging, registry


def test_delay_spectrum_parseval(spark, sf_dir):
    """DFT Parseval identity: Σ_k |F_k|² = N · Σ_c |s_c|² per spectrum,
    so summed over everything the delay-power total must equal 8× the
    frequency-power total (up to the 1e-6 fixed-point grids)."""
    out = registry()["delay_spectrum_per_baseline"].fn(spark, sf_dir)
    delay_total = out.agg(F.sum("power_q_sum")).collect()[0][0] / 1e6

    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    from codex_africanus_spark.functions.deterministic import quantize

    spq = vis.groupBy("time", "antenna1", "antenna2", "chan").agg(
        (F.sum(quantize(F.col("vis_re"), 1e6)) / F.lit(1e6)).alias("re"),
        (F.sum(quantize(F.col("vis_im"), 1e6)) / F.lit(1e6)).alias("im"),
    )
    freq_total = spq.agg(
        F.sum(F.col("re") * F.col("re") + F.col("im") * F.col("im"))
    ).collect()[0][0]
    assert delay_total == pytest.approx(8.0 * freq_total, rel=1e-4)


def test_lsh_planner_scurve_properties():
    """The precomputed detection table is a valid S-curve family:
    monotone nondecreasing in jaccard for every (b, r), and more bands
    at fixed b·r detect MORE at low similarity (the aggressiveness
    trade-off the planner exists to show)."""
    rows = corpus._LSH_PLANNER_ROWS
    by_cfg = {}
    for b, r, d, p in rows:
        by_cfg.setdefault((b, r), {})[d] = p
    for cfg, curve in by_cfg.items():
        ps = [curve[d] for d in sorted(curve)]
        assert ps == sorted(ps), f"{cfg} not monotone"
        assert 0 <= ps[0] and ps[-1] <= 1_000_000
        # matches the closed form at the decile midpoints
        b, r = cfg
        for d, p in curve.items():
            s = 0.05 + 0.1 * d
            want = int(math.floor((1.0 - (1.0 - s**r) ** b) * 1e6 + 0.5))
            assert p == want
    # at low similarity (decile 2, s=0.25), 16 bands x 2 rows detects
    # far more than 4 bands x 8 rows
    assert by_cfg[(16, 2)][2] > by_cfg[(4, 8)][2] * 100


def test_faceted_mosaic_matches_direct_predict(spark, sf_dir):
    """The faceting identity: re-steered per-facet sums must reproduce
    the direct (unfaceted) flux-weighted phase sum to quantization
    accuracy — faceting is a plan decomposition, not a physics change."""
    out = registry()["faceted_mosaic_predict"].fn(spark, sf_dir)
    # key on the FULL output grain: row_id is not unique in the testdata
    # (duplicate orderkey/linenumber pairs map to different baselines)
    rows = {
        (r.row_id, r.antenna1, r.antenna2, r.chan): r
        for r in out.limit(2000).collect()
    }

    from codex_africanus_spark.functions.deterministic import qsum
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 5 == 0)
    src = tpch_ms.source_table(spark, sf_dir)
    K = float(imaging._FACET_K)
    j = vis.crossJoin(F.broadcast(src))
    th = (
        F.lit(K)
        * (
            F.col("u") * F.col("l") + F.col("v") * F.col("m")
            + F.col("w") * (F.col("n") - F.lit(1.0))
        )
        * F.col("frequency")
    )
    direct = (
        j.groupBy("row_id", "antenna1", "antenna2", "chan")
        .agg(
            (qsum(F.col("flux_i") * F.cos(th), 1e6) / F.lit(1e6)).alias("re"),
            (qsum(F.col("flux_i") * F.sin(th), 1e6) / F.lit(1e6)).alias("im"),
        )
        .collect()
    )
    checked = 0
    for r in direct:
        key = (r.row_id, r.antenna1, r.antenna2, r.chan)
        if key not in rows:
            continue
        m = rows[key]
        # per-facet + steer quantization: ≤ 4 facets × (1e-6 sum grid
        # amplified by the steer rotation) + the final 1e-6 grid
        assert m.vis_re == pytest.approx(r.re, abs=2e-5)
        assert m.vis_im == pytest.approx(r.im, abs=2e-5)
        checked += 1
    assert checked > 100


def test_band_edge_flagging_semantics(spark, sf_dir):
    out = {r.chan: r for r in
           registry()["band_edge_flagging"].fn(spark, sf_dir).collect()}
    for chan, r in out.items():
        if r.is_edge:
            assert r.n_flagged_after == r.n_rows
        else:
            assert r.n_flagged_after == r.n_flagged_before
            assert r.added_ppm == 0


def test_coherence_bounded(spark, sf_dir):
    """|lag-1 coherence| ≤ 1 + grid slack (Cauchy-Schwarz)."""
    for r in registry()["coherence_time_estimate"].fn(spark, sf_dir).collect():
        assert abs(r.coherence_ppm) <= 1_000_001
        assert r.power_q > 0
