"""Adversarial micro-batch-boundary fuzz for the streaming twins (r6
verdict #7): the fixed 4-way time split in the parity suites cannot
exercise boundary-dependent state bugs — a bin straddling EVERY possible
micro-batch cut, one-row-per-trigger arrival, and closure-aligned splits
must all reproduce the batch operator exactly. The one round-6 red test
was a streaming twin; this suite makes the surface fuzz-covered like the
batch operators already are."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from codex_africanus_spark.operators import bda as bda_op
from codex_africanus_spark.streaming import stateful

from tests.conftest import await_done

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow

VIS_COLS = ["row_id", "time", "antenna1", "antenna2", "u", "v", "w",
            "vis_re", "vis_im", "weight"]
VIS_SCHEMA = ("row_id long, time double, antenna1 int, antenna2 int, "
              "u double, v double, w double, vis_re double, vis_im double, "
              "weight double")


def _synthetic_vis(n_rows: int = 24) -> pd.DataFrame:
    """Deterministic multi-baseline series whose uv drift closes bins at
    data-dependent points (no RNG — boundary positions must be stable)."""
    rows = []
    baselines = [(0, 1), (1, 2), (0, 2)]
    for i in range(n_rows):
        a1, a2 = baselines[i % 3]
        t = 1000.0 + 15.0 * i
        drift = 12.0 * (i // 3)  # uv walks away → decorrelation accrues
        rows.append((i, t, a1, a2, 10.0 + drift, -5.0 + drift, 1.0,
                     1.0 + 0.25 * (i % 5), 0.5 - 0.125 * (i % 3),
                     1.0 + (i % 2)))
    return (
        pd.DataFrame(rows, columns=VIS_COLS)
        .astype({"antenna1": "int32", "antenna2": "int32"})
        .sort_values(["time", "row_id"])
        .reset_index(drop=True)
    )


def _write_splits(src, pdf: pd.DataFrame, bounds: list[int]) -> None:
    """Write pdf as files cut at row indices `bounds` (global time order
    preserved — the ordered-time streaming contract); mtimes enforce the
    file-source arrival order."""
    src.mkdir()
    cuts = [0] + bounds + [len(pdf)]
    for k in range(len(cuts) - 1):
        chunk = pdf.iloc[cuts[k]:cuts[k + 1]]
        if chunk.empty:
            continue
        path = src / f"part-{k:04d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (1_000_000_000 + k * 100, 1_000_000_000 + k * 100))


def _run_bda_stream(spark, src, ck, name, tol):
    stream = (
        spark.readStream.schema(VIS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stateful.streaming_bda(stream, decorr_tol=tol)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    raw = spark.sql(f"SELECT * FROM {name}").toPandas()
    idx = raw.groupby(["antenna1", "antenna2", "bin_idx"])["n_rows"].idxmax()
    return (
        raw.loc[idx]
        .drop(columns=["closed"])
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )


BDA_TOL = 60.0  # tight: several closures inside the 24-row series


@pytest.mark.parametrize("strategy", ["one_row_per_trigger", "pairs",
                                      "closure_aligned", "all_but_last"])
def test_streaming_bda_boundary_fuzz(spark, tmp_path, strategy):
    pdf = _synthetic_vis()
    vis = spark.createDataFrame(pdf)
    batch = (
        bda_op.bda_average(vis, decorr_tol=BDA_TOL)
        .toPandas()
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )
    assert batch.bin_idx.max() > 0  # the tolerance genuinely closes bins

    if strategy == "one_row_per_trigger":
        bounds = list(range(1, len(pdf)))
    elif strategy == "pairs":
        bounds = list(range(2, len(pdf), 2))
    elif strategy == "all_but_last":
        bounds = [len(pdf) - 1]  # giant batch, then a 1-row straggler
    else:
        # cut exactly where the batch operator opens a new bin — the
        # boundary most likely to double-close or re-open state
        starts = set(zip(batch.antenna1, batch.antenna2, batch.time_start))
        bounds = sorted(
            i for i, r in pdf.iterrows()
            if i > 0 and (r.antenna1, r.antenna2, r.time) in starts
        )
        assert bounds  # closure-aligned cuts must exist
    src = tmp_path / f"vis_{strategy}"
    _write_splits(src, pdf, bounds)
    got = _run_bda_stream(
        spark, src, tmp_path / f"ck_{strategy}", f"bda_fuzz_{strategy}", BDA_TOL
    )
    assert len(got) == len(batch), strategy
    for c in ["antenna1", "antenna2", "bin_idx", "n_rows"]:
        assert (got[c].to_numpy() == batch[c].to_numpy()).all(), (strategy, c)
    for c in ["time_start", "time_end", "vis_re_avg", "vis_im_avg", "weight_sum"]:
        np.testing.assert_allclose(
            got[c].to_numpy(), batch[c].to_numpy(), rtol=1e-12,
            err_msg=f"{strategy}:{c}",
        )
