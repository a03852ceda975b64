"""Skew fuzz + plan locks for the salted BDA pre-split (r7 verdict #2).

The distributed (baseline, bucket) decomposition must reproduce the
sequential quantized scan BIT-EXACTLY — bin boundaries, ids, counts,
time extents, and the fixed-point value averages — on adversarial
skewed corpora: one dominant baseline, zero-motion runs, duplicate
timestamps, bins straddling many buckets, buckets fully absorbed by
one bin.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import bda as bda_op
from codex_africanus_spark.operators import skew as skew_op

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow

SCHEMA = (
    "row_id long, time double, antenna1 int, antenna2 int, "
    "u double, v double, w double, vis_re double, vis_im double, "
    "weight double"
)


def _fuzz_frame(seed: int, n: int = 1200) -> pd.DataFrame:
    """Adversarial corpus: baseline (0,1) holds ~60% of rows (the hot
    key), uvw random-walks with occasional zero-motion runs, time
    advances with occasional zero gaps (duplicate timestamps)."""
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < 0.6
    a1 = np.where(hot, 0, rng.integers(0, 4, n))
    a2 = np.where(hot, 1, a1 + 1 + rng.integers(0, 3, n))
    # per-baseline ordered times: cumulative nonneg gaps, ~15% zeros
    gaps = np.where(rng.random(n) < 0.15, 0.0, rng.exponential(40.0, n))
    df = pd.DataFrame(
        {
            "row_id": np.arange(n, dtype=np.int64),
            "antenna1": a1.astype(np.int32),
            "antenna2": a2.astype(np.int32),
            "gap": gaps,
        }
    )
    df["time"] = df.groupby(["antenna1", "antenna2"])["gap"].cumsum()
    # uvw random walk with zero-motion stretches
    still = rng.random(n) < 0.25
    du = np.where(still, 0.0, rng.normal(0.0, 8.0, n))
    dv = np.where(still, 0.0, rng.normal(0.0, 8.0, n))
    dw = np.where(still, 0.0, rng.normal(0.0, 1.5, n))
    for c, d in (("u", du), ("v", dv), ("w", dw)):
        df[c] = pd.Series(d).groupby(
            [df["antenna1"], df["antenna2"]]
        ).cumsum()
    df["vis_re"] = rng.normal(0.0, 3.0, n)
    df["vis_im"] = rng.normal(0.0, 3.0, n)
    df["weight"] = 1.0 + rng.integers(0, 5, n).astype(np.float64)
    return df[
        ["row_id", "time", "antenna1", "antenna2", "u", "v", "w",
         "vis_re", "vis_im", "weight"]
    ]


def _collect(df):
    return sorted(
        tuple(r) for r in df.select(
            "antenna1", "antenna2", "bin_idx", "n_rows", "time_start",
            "time_end", "vis_re_avg", "vis_im_avg", "weight_sum",
        ).collect()
    )


@pytest.mark.parametrize("seed", [7, 42, 1234])
@pytest.mark.parametrize(
    "tol,span,bucket",
    [
        (60.0, 900.0, 300.0),    # bins straddle several buckets
        (60.0, 900.0, 37.0),     # tiny buckets: most absorbed whole
        (6.0, 1e12, 250.0),      # motion-trigger only, fast closure
        (1e12, 120.0, 400.0),    # time-trigger only
        (60.0, 900.0, 1e15),     # one bucket: degenerates to sequential
    ],
)
def test_salted_bda_bit_equals_sequential(spark, seed, tol, span, bucket):
    pdf = _fuzz_frame(seed)
    vis = spark.createDataFrame(pdf, SCHEMA)
    ref = _collect(bda_op.bda_average_quantized(vis, tol, span))
    got = _collect(skew_op.salted_bda_average(vis, tol, span, bucket))
    assert got == ref  # bit-exact: boundaries, ids, extents, averages


def test_salted_bda_on_ms_table(spark, sf_dir):
    """On the real vis table (sliced) with straddle-heavy parameters."""
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    tol, span, bucket = 500.0, 4_320_000.0, 2_592_000.0
    ref = _collect(bda_op.bda_average_quantized(vis, tol, span))
    got = _collect(skew_op.salted_bda_average(vis, tol, span, bucket))
    assert got == ref
    assert len(got) > 10


def test_salted_bda_plan_two_level_keys(spark, sf_dir, monkeypatch):
    """Plan lock: the fact-scale pandas stages group by (baseline,
    bucket) — never by baseline alone; the only baseline-keyed stage is
    the Phase-B stitch, whose input is the bucket-summary aggregate
    (one row per bucket). No task holds a whole hot baseline. The plan
    read is the frames below the operator's `localCheckpoint` cuts
    and the bins above them."""
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).filter(F.col("row_id") % 17 == 0)
    cut = []
    checkpoint = type(vis).localCheckpoint

    def recorded(self, *args, **kwargs):
        cut.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(vis), "localCheckpoint", recorded)
    out = skew_op.salted_bda_average(vis, 500.0, 4_320_000.0, 2_592_000.0)
    plan = "\n".join(
        df._jdf.queryExecution().analyzed().toString() for df in (*cut, out)
    )
    # Phase A/C are sorted-stream MapInPandas over (baseline, bucket)
    # repartitions — per-group applyInPandas at thousands of tiny
    # bucket groups pays an Arrow round-trip each (27 s vs 3 s measured)
    assert plan.count("MapInPandas") == 2
    reparts = [
        ln for ln in plan.splitlines() if "RepartitionByExpression" in ln
    ]
    assert sum("__bucket" in r for r in reparts) == 2
    # the ONLY per-group stage is the Phase-B stitch: keyed by baseline
    # alone but consuming the one-row-per-bucket summary frame
    groups = [
        ln for ln in plan.splitlines() if "FlatMapGroupsInPandas" in ln
    ]
    assert len(groups) == 1
    key = groups[0].split("FlatMapGroupsInPandas [", 1)[1].split("]", 1)[0]
    assert "__bucket" not in key and "r_exit_acc" in groups[0]
