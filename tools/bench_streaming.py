"""Streaming-twin micro-bench (r14 verdict item 9).

The foreachBatch/withWatermark streaming twins reuse the optimized batch
operators but have no bench.py row (the driver bench can't host a
multi-trigger streaming run), so optimization rounds had no recorded
number to move. This tool times the three twin families end-to-end:

- cdc_increment:   N-way micro-batch drive of streaming/cdc.cdc_dim_increment
                   against a freshly committed 3-version dim snapshot
                   (the events_cdc_dim_state_join twin);
- gapfill_increment: same drive of streaming/gapfill.gap_fill_increment
                   (the events_hourly_gap_fill twin);
- watermark_window_drop: the REAL `withWatermark` availableNow run over
                   mtime-staged arrival batches (streaming/windowed.
                   streaming_window_drop — the events_watermark_window_drop
                   twin), one trigger per arrival batch.

Each twin is measured with bench.py's protocol (`bench.measure`: one
warm-up, then bench.RUNS timed executions, min reported). Every
execution drives all BATCHES micro-batches and noop-writes the twin's
final output. The cdc batches are handed to Spark through
`sources.tables.local_frame` like the engine's own driver-held frames;
the gap-fill batches are `event_id` ranges of the events scan, as
perfbench's `gapfill_ingest` cuts them, so they take the file-scan path
of the batch query; the watermark twin stages into
fresh source/checkpoint dirs per execution (a reused checkpoint would
replay markers and time nothing). ONE JSON line on stdout:
  {"metric": "streaming_twin_wall_time", "value": total,
   "queries": {name: sec}, "sf": ..., "batches": N, "runs": N}

Usage: python tools/bench_streaming.py [SF_DIR]
Baseline: the latest run recorded in CHANGES.md.
"""

import json
import os
import shutil
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from codex_africanus_spark.session import get_spark  # noqa: E402
from codex_africanus_spark.sources import snapshot as snap  # noqa: E402
from codex_africanus_spark.sources.tables import local_frame  # noqa: E402
from codex_africanus_spark.sources import tpch_ms  # noqa: E402
from codex_africanus_spark.streaming import cdc as scdc  # noqa: E402
from codex_africanus_spark.streaming import gapfill as sgap  # noqa: E402
from codex_africanus_spark.streaming import windowed  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else bench.SF_DIR
BATCHES = 6  # micro-batches per drive

EV_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)


def _build_dim(spark, ev, root):
    """The cdc twin's three dim-snapshot versions (same predicates as
    tests/test_streaming_cdc.py — the registered query's referent)."""
    users = ev.select("user_id").distinct()
    seg = F.col("user_id") % 5
    specs = [
        users.filter(F.col("user_id") % 4 != 3)
        .select("user_id", seg.alias("segment")),
        users.filter((F.col("user_id") % 4 == 3) & (F.col("user_id") % 8 != 7))
        .select("user_id", F.lit(5).cast("long").alias("segment")),
        users.filter(F.col("user_id") % 8 == 7)
        .select("user_id", F.lit(6).cast("long").alias("segment")),
    ]
    for d in specs:
        snap.commit(d, root, mode="append")


def _drive(spark, ev_pdf, increment, carry):
    """Feed the events to `increment` in BATCHES micro-batches; return
    the last batch's summary."""
    for chunk in np.array_split(ev_pdf, BATCHES):
        summary, carry = increment(local_frame(spark, chunk, EV_SCHEMA), carry)
    return summary


def _drive_scan(ev, cuts, increment, carry):
    """Feed the events to `increment` as the `event_id` ranges
    [cuts[i], cuts[i + 1]) of the events scan; return the last batch's
    summary."""
    for lo, hi in zip(cuts, cuts[1:]):
        batch = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        summary, carry = increment(batch, carry)
    return summary


def main() -> None:
    spark = get_spark("codex-africanus-spark-bench-streaming")
    ev = tpch_ms.events_table(spark, SF_DIR)
    # one driver-side event frame reused by the increment drives (the
    # micro-batch splitter needs a stable row order; inside the timed
    # region each execution re-creates every batch DataFrame from it)
    ev_pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    # the same BATCHES cuts, as event_id bounds of the scan
    cuts = [int(c["event_id"].iloc[0]) for c in np.array_split(ev_pdf, BATCHES)]
    cuts.append(int(ev_pdf["event_id"].iloc[-1]) + 1)
    work = tempfile.mkdtemp(prefix="bench_streaming_")

    def _drive_wm():
        src, ck = tempfile.mkdtemp(dir=work), tempfile.mkdtemp(dir=work)
        windowed.stage_arrival_batches(
            ev, src,
            jitter_us=1_800_000_000, batch_us=3_600_000_000 * 24 * 14,
        )
        got, _dropped = windowed.streaming_window_drop(
            spark, src, ck,
            delay_us=7_200_000_000, hour_us=3_600_000_000 * 24,
            name="bench_wm",
        )
        return got

    # cdc: dim committed once (fixture, untimed — the twin consumes a
    # pre-existing dim table); each execution drives all BATCHES batches
    dim_root = os.path.join(work, "dim")
    _build_dim(spark, ev, dim_root)
    twins = {
        "cdc_increment": lambda: _drive(
            spark, ev_pdf, partial(scdc.cdc_dim_increment, root=dim_root),
            scdc.empty_carry(spark)),
        "gapfill_increment": lambda: _drive_scan(
            ev, cuts, sgap.gap_fill_increment, sgap.empty_carry(spark)),
        "watermark_window_drop": _drive_wm,
    }
    timings: dict[str, float] = {}
    for name, build in twins.items():
        timings[name] = round(bench.measure(spark, build).best, 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr, flush=True)

    print(json.dumps({
        "metric": "streaming_twin_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "batches": BATCHES,
        "runs": bench.RUNS,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
    }))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
