"""Locks for the r13 optimization-round changes (OPTIMIZATION_r13.md).

Each lock pins the load-bearing property of an optimization so a future
refactor cannot silently undo it: the scan-twin row identity and the
single-fan-out predict plan (change 1), and the brightness/flux pow()
hoist staying on the broadcast side of the compiled RIME plan with the
custom-term override keeping the general path (change 5)."""

from __future__ import annotations

import pytest

from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import scan_twin


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_twin_rows_identical(spark, sf_dir):
    """The unfanned twin must hold the IDENTICAL row multiset — the
    whole correctness argument for aggregating over it."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    twin = scan_twin(vis)
    assert twin is not vis  # the builder attached one
    a = sorted(map(tuple, vis.select("row_id", "time", "chan").collect()))
    b = sorted(map(tuple, twin.select("row_id", "time", "chan").collect()))
    assert a == b


def test_scan_twin_fallback_is_identity(spark, sf_dir):
    """Frames without an attached twin fall back to themselves."""
    vis = tpch_ms.vis_table(spark, sf_dir).filter("chan = 0")
    assert scan_twin(vis) is vis


def test_predict_single_fanout_exchange(spark, sf_dir):
    """predict_vis must carry at most ONE RoundRobin fan-out of the fact
    scan: the (chan, frequency) distinct aggregates over the unfanned
    twin (r13 change 1 — the branch used to duplicate the full-data
    exchange)."""
    plan = plan_of(registry()["predict_vis_point_gauss"].fn(spark, sf_dir))
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_rime_compiled_pow_on_broadcast_side(spark, sf_dir):
    """The compiled RIME brightness pow() must sit under the broadcast
    exchange (source × chan grain), not in the per-pair projection
    (r13 change 5; measured 43 s → 18 s executor time at sf0.1)."""
    plan = plan_of(registry()["rime_compiled_predict"].fn(spark, sf_dir))
    if "MapInArrow" in plan:
        # r14: the Arrow source-fold tier subsumes the hoist — there is
        # no per-pair projection (and no broadcast) left at all; pow runs
        # in the kernel's (unique-freq x source) grid. The r13 property
        # ("no POWER per pair") holds in its strongest form.
        assert "POWER" not in plan, "pow() leaked back into a JVM projection"
        return
    fact_side = plan.split("BroadcastExchange")[0]
    assert "POWER" not in fact_side, "pow() leaked back to the per-pair side"
    assert "POWER" in plan  # still evaluated somewhere (broadcast side)


def test_rime_custom_b_override_keeps_general_path(spark, sf_dir):
    """A custom B term must NOT be substituted by the hoisted factor —
    the exact-type check protects plugin semantics."""
    from pyspark.sql import functions as F

    from codex_africanus_spark.plans.rime import BrightnessTerm, rime

    class DoubledBrightness(BrightnessTerm):  # subclass ≠ exact type
        def apply(self, z):
            return super().apply(z)

    spec = "(Kpq, Bpq): [I] -> [XX]"
    vis = tpch_ms.vis_table(spark, sf_dir).filter("row_id % 97 = 0")
    src = tpch_ms.source_table(spark, sf_dir)
    out = rime(spec, vis, src, terms={"B": DoubledBrightness})
    plan = plan_of(out)
    assert "__bflux" not in plan  # general per-pair path preserved
    # and the override computes the same values as the standard term here
    std = rime(spec, vis, src)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, std.collect()))
    assert a == b
