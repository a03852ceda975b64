"""`bench.measure` is the one measurement protocol of bench.py and the
bench tools: an untimed warm-up, then `runs` timed noop executions, each
under a watchdog that cancels the session's jobs after `bench.BUDGET_S`.
`bench.main` reports the minimum warm wall per query as one JSON line."""

import json

import pytest

import bench


def test_measure_reports_cold_and_every_warm_wall(spark):
    m = bench.measure(spark, lambda: spark.range(1000).selectExpr("sum(id) AS s"),
                      runs=2)
    assert m.cold > 0
    assert len(m.warm) == 2 and all(w > 0 for w in m.warm)
    assert m.best == min(m.warm)
    # one (job, stage) id mark before each execution and after the last
    assert len(m.ids) == 2 + 2
    assert m.ids[-1][0] - m.ids[0][0] >= 2 + 1
    assert all(b[0] > a[0] for a, b in zip(m.ids, m.ids[1:]))  # each ran a job


def test_watchdog_cancels_an_execution_past_the_budget(spark, monkeypatch):
    monkeypatch.setattr(bench, "BUDGET_S", 2)
    with pytest.raises(bench.Cancelled, match=r"^cancelled>2s$"):
        bench.measure(
            spark, lambda: spark.range(10**11).selectExpr("sum(id % 7) AS s"))
    assert spark.range(10).count() == 10


def test_main_prints_one_json_line(spark, sf_dir, monkeypatch, capsys):
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "HEADLINE", ["q1_pricing_summary"])
    monkeypatch.setattr(bench, "EXTENDED", ["uv_grid_histogram"])
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "calibrate", lambda s: 0.5)
    monkeypatch.setattr(spark, "stop", lambda: None)
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert set(out) == {
        "metric", "value", "unit", "queries", "queries_extended",
        "extended_value", "calib_before_sec", "calib_after_sec", "cold_sec",
        "loadavg_before", "loadavg_after", "sf",
    }
    assert list(out["queries"]) == ["q1_pricing_summary"]
    assert list(out["queries_extended"]) == ["uv_grid_histogram"]
    assert set(out["cold_sec"]) == {"q1_pricing_summary", "uv_grid_histogram"}
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["extended_value"] == round(sum(out["queries_extended"].values()), 3)
    assert out["calib_before_sec"] == out["calib_after_sec"] == 0.5
