#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

It also holds the one measurement protocol that the bench tools under
tools/ import. A query is measured by `measure`: one warm-up, whose
wall is reported only as its `cold_sec`, then RUNS timed executions; its
number in `queries` is the minimum of those warm walls. Every execution writes the
query's DataFrame to the noop sink, which evaluates every output column
and moves nothing across the driver, and runs under a watchdog that
cancels all jobs after BUDGET_S.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from codex_africanus_spark.queries import registry  # noqa: E402
from codex_africanus_spark.session import get_spark  # noqa: E402
from perfbench.probe import Counters  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = 3         # timed executions per query after the warm-up
BUDGET_S = 420   # watchdog budget of one execution

HEADLINE = [
    "predict_vis_point_gauss",
    "predict_full_corr_2x2",
    "corrupt_vis_apply_gains",
    "time_and_channel_average",
    "uv_grid_histogram",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "topk_parts_by_revenue",
    "events_tumbling_window",
    "time_index_dense_rank",
    "minhash_lsh_near_dup_pairs",
    "embedding_cosine_topk",
    "events_sessionize_relational",
    # round-1 extension operators
    "rime_compiled_predict",
    "kmv_theta_distinct_customers",
    "ann_ivf_topk",
    "approx_percentile_price",  # the mergeable-sketch scale path (exact tier stays in the registry)
    # round-1 late-extension operators
    "compute_and_corrupt_vis_dde",  # double broadcast-join + source collapse
    "gp_phase_screen_corrupt",      # pure-codegen expression throughput
]

# r9 rotation (r8 verdict item 5): the legacy 20 above are frozen since
# r1 for cross-round continuity; this second set exercises the
# work-dominated r5-r8 code paths the legacy set never touches. Timed
# identically; reported separately (queries_extended / extended_value)
# so the headline total stays comparable across rounds.
EXTENDED = [
    "bda_salted_average",            # salted exact BDA three-phase pre-split
    "prefix_filter_jaccard_join",    # PPJoin prefix-filter exact-Jaccard
    "incremental_dedup_ingest",      # index build + batched ingest probes
    "faceted_mosaic_predict",        # facet dims broadcast, 2-level reduction
    "beam_dde_full_predict",         # E_p·B·E_q^H double broadcast join
    "time_and_channel_average_full", # full MS column-set averaging
]


class Cancelled(RuntimeError):
    """An execution the watchdog cancelled after BUDGET_S."""


@dataclass
class Measurement:
    cold: float                  # wall of the untimed warm-up
    warm: list[float]            # wall of each timed execution, in order
    ids: list[tuple[int, int]]   # (next job id, next stage id) before each
    # execution and after the last: execution i launched the jobs and
    # stages with ids in [ids[i], ids[i + 1])

    @property
    def best(self) -> float:
        return min(self.warm)


def noop(df) -> None:
    """Evaluate every output column of `df` (count() would let Catalyst
    prune the aggregates) without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def timed(spark, action) -> float:
    """Wall seconds of one call of `action`, under a watchdog that cancels
    all of the session's jobs after BUDGET_S, so one pathological plan
    cannot stall a run; a cancelled call raises `Cancelled`."""
    cancelled = threading.Event()

    def _kill():
        cancelled.set()
        spark.sparkContext.cancelAllJobs()

    watchdog = threading.Timer(BUDGET_S, _kill)
    watchdog.start()
    t0 = time.perf_counter()
    try:
        action()
        return time.perf_counter() - t0
    except Exception as e:
        if cancelled.is_set():
            raise Cancelled(f"cancelled>{BUDGET_S}s") from e
        raise
    finally:
        watchdog.cancel()


def measure(spark, build, runs: int = RUNS) -> Measurement:
    """The protocol: noop-execute ``build()`` once as a warm-up, which
    pays whole-stage-codegen JIT, broadcast builds and Python-worker start
    and is reported only as `cold`, then `runs` more times (`warm`)."""
    counters = Counters(spark)
    ids = [counters.ids()]
    walls = []
    for _ in range(runs + 1):
        walls.append(timed(spark, lambda: noop(build())))
        ids.append(counters.ids())
    return Measurement(cold=walls[0], warm=walls[1:], ids=ids)


def calibrate(spark) -> float:
    """Host-load calibration probe (r9 verdict item 2): a FIXED pure-JVM
    computation — 400M-row codegen sum over 32 partitions, no I/O, no
    Python — timed min-of-3. Its wall time depends only on host CPU
    availability, so a reading far above the idle-host constant marks
    the surrounding bench numbers as weather-contaminated. Reported as
    calib_before_sec / calib_after_sec."""
    probe = spark.range(0, 400_000_000, 1, 32).selectExpr("sum(id * 2 + 1) AS s")
    return round(min(timed(spark, partial(noop, probe)) for _ in range(3)), 3)


def loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def main() -> None:
    spark = get_spark("codex-africanus-spark-bench")
    reg = registry()
    load_before = loadavg()
    calib_before = calibrate(spark)

    errors: dict[str, str] = {}
    cold: dict[str, float] = {}

    def time_set(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            if name not in reg:
                continue
            try:
                m = measure(spark, partial(reg[name].fn, spark, SF_DIR))
            except Exception as e:  # noqa: BLE001 — one broken query must
                # not zero out the whole round's measurement (round 2 bite)
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                continue
            cold[name] = round(m.cold, 3)
            timings[name] = round(m.best, 3)
            print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
        return timings

    timings = time_set(HEADLINE)
    extended = time_set(EXTENDED)
    calib_after = calibrate(spark)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    result = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_extended": extended,
        "extended_value": round(sum(extended.values()), 3),
        "calib_before_sec": calib_before,
        "calib_after_sec": calib_after,
        "cold_sec": cold,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
