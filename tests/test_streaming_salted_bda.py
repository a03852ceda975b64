"""Streaming salted BDA (r9 verdict item 5): the foreachBatch salted
increment must reproduce the unsalted stateful streaming twin
BIT-EXACTLY under the adversarial skew fuzz, across arbitrary
micro-batch splits — while its fact-scale stages stay keyed by
(baseline, bucket), never by baseline alone."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from codex_africanus_spark.streaming import salted as ssalt
from codex_africanus_spark.streaming import stateful

from tests.conftest import await_done
from tests.test_salted_bda import SCHEMA, _fuzz_frame

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def _unsalted_final_bins(spark, tmp_path, pdf, splits, tol, span, tag):
    """Run the unsalted streaming twin over `splits` micro-batches and
    return the final state of every bin."""
    src = tmp_path / f"vis_{tag}"
    src.mkdir()
    ordered = pdf.sort_values(["time", "row_id", "u", "v", "w", "vis_re"])
    for i, chunk in enumerate(np.array_split(ordered, splits)):
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       src / f"part-{i:03d}.parquet")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stateful.streaming_bda(stream, decorr_tol=tol, max_span_secs=span)
        .writeStream.format("memory")
        .queryName(f"sbda_{tag}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    out = spark.sql(f"SELECT * FROM sbda_{tag}").toPandas()
    idx = out.groupby(["antenna1", "antenna2", "bin_idx"])["n_rows"].idxmax()
    return (
        out.loc[idx]
        .drop(columns=["closed"])
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )


def _salted_final_bins(spark, pdf, splits, tol, span, bucket):
    """Drive salted_bda_increment over the same global-time splits."""
    ordered = pdf.sort_values(["time", "row_id", "u", "v", "w", "vis_re"])
    carry = ssalt.empty_carry(spark)
    emitted = []
    for chunk in np.array_split(ordered, splits):
        batch = spark.createDataFrame(chunk.reset_index(drop=True), SCHEMA)
        bins, carry = ssalt.salted_bda_increment(
            batch, carry, decorr_tol=tol, max_span_secs=span,
            bucket_secs=bucket,
        )
        emitted.append(bins.toPandas())
        carry = spark.createDataFrame(carry.toPandas(), ssalt.CARRY_SCHEMA)
    out = pd.concat(emitted, ignore_index=True)
    idx = out.groupby(["antenna1", "antenna2", "bin_idx"])["n_rows"].idxmax()
    return (
        out.loc[idx]
        .drop(columns=["closed"])
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("seed", [7, 42])
@pytest.mark.parametrize("splits", [1, 4])
@pytest.mark.parametrize(
    "tol,span,bucket",
    [
        (60.0, 900.0, 300.0),   # bins straddle buckets AND batches
        (6.0, 1e12, 37.0),      # motion-only closure, tiny buckets
    ],
)
def test_salted_increment_matches_unsalted_twin(
    spark, tmp_path, seed, splits, tol, span, bucket
):
    pdf = _fuzz_frame(seed, n=600)
    ref = _unsalted_final_bins(
        spark, tmp_path, pdf, splits, tol, span,
        f"{seed}_{splits}_{int(tol)}_{int(bucket)}",
    )
    got = _salted_final_bins(spark, pdf, splits, tol, span, bucket)
    assert ref.bin_idx.max() > 0
    pd.testing.assert_frame_equal(ref, got, check_dtype=False)


def test_salted_increment_fact_stages_keyed_by_bucket(spark, monkeypatch):
    """Scale lock (the verdict's 'no state partition holds >1 bucket'
    analogue): both fact-scale pandas stages (Phase A, Phase C) are
    sorted-stream MapInPandas over (baseline, __bucket) repartitions;
    the ONLY baseline-keyed pandas stage is the Phase-B stitch, whose
    input is the one-row-per-bucket summary frame. The plan read is the
    one the sink runs: the frames below the increment's two
    `localCheckpoint` cuts (Phase A + B, Phase C + merge) and the bins
    above them."""
    pdf = _fuzz_frame(3, n=200)
    batch = spark.createDataFrame(pdf, SCHEMA)
    cut = []
    checkpoint = type(batch).localCheckpoint

    def recorded(self, *args, **kwargs):
        cut.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(batch), "localCheckpoint", recorded)
    bins, carry = ssalt.salted_bda_increment(
        batch, ssalt.empty_carry(spark), 60.0, 900.0, 300.0
    )
    assert len(cut) == 2
    plan = "\n".join(
        df._jdf.queryExecution().analyzed().toString() for df in (*cut, bins)
    )
    # Phase A below the first cut, Phase C below the second
    assert plan.count("MapInPandas") >= 2
    reparts = [
        ln for ln in plan.splitlines() if "RepartitionByExpression" in ln
    ]
    assert len(reparts) >= 2
    # THE salt lock: every fact-row repartition carries __bucket — no
    # pandas stage is ever keyed by baseline alone over fact rows
    assert all("__bucket" in r for r in reparts)
    # the only baseline-keyed pandas stage is the Phase-B stitch, whose
    # child is the summary MapInPandas stream (one row per bucket)
    assert "FlatMapGroupsInPandas" in plan
    for ln in plan.splitlines():
        if "FlatMapGroupsInPandas" in ln:
            assert "phase_b" in ln


def _write_parts(src, ordered, splits):
    """One parquet file per micro-batch, in time order (distinct mtimes
    fix the file source's batch order)."""
    src.mkdir()
    for i, chunk in enumerate(np.array_split(ordered, splits)):
        path = src / f"part-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (1_000_000_000 + i * 100,) * 2)


def run_sink(spark, src, out_dir, ck):
    """Drive `streaming_salted_bda_sink` over `src`, one file a batch."""
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        ssalt.streaming_salted_bda_sink(
            stream, out_dir, ck, decorr_tol=60.0, max_span_secs=900.0,
            bucket_secs=300.0,
        )
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)


def forget_commit(ck, batch_id):
    """Drop a batch from the checkpoint's commit log, as a crash before
    the commit would: the restarted query replays that batch."""
    for f in (str(batch_id), f".{batch_id}.crc"):
        os.remove(os.path.join(ck, "commits", f))


def sunk_bins(spark, out_dir):
    """Every marker-committed batch's bins, tagged with their batch id."""
    ids = sorted(
        int(f[len("_marker_"):-len(".json")])
        for f in os.listdir(out_dir) if f.startswith("_marker_")
    )
    out = pd.concat(
        spark.read.parquet(os.path.join(out_dir, f"summary_batch_{b}"))
        .toPandas().assign(batch_id=b)
        for b in ids
    )
    key = ["batch_id", "antenna1", "antenna2", "bin_idx"]
    return out.sort_values(key).reset_index(drop=True)


def fuzz_sink(spark, tmp_path, seed, n):
    """Run the sink over `seed`'s fuzz frame in 3 batches; return the
    frame and the (src, out_dir, checkpoint) paths."""
    pdf = _fuzz_frame(seed, n=n)
    src = tmp_path / "src"
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _write_parts(
        src, pdf.sort_values(["time", "row_id", "u", "v", "w", "vis_re"]), 3
    )
    run_sink(spark, src, out_dir, ck)
    return pdf, src, out_dir, ck


def test_foreach_batch_sink_exactly_once(spark, tmp_path):
    """The foreachBatch consumer commits bins + carry with a batch-id
    marker: a batch that Structured Streaming replays after its marker
    landed (its commit-log entry lost) is a no-op."""
    pdf, src, out_dir, ck = fuzz_sink(spark, tmp_path, 11, 300)
    first = sunk_bins(spark, out_dir)
    assert first.batch_id.max() == 2
    forget_commit(ck, 2)
    run_sink(spark, src, out_dir, ck)
    assert os.path.exists(os.path.join(ck, "commits", "2"))  # replayed
    pd.testing.assert_frame_equal(sunk_bins(spark, out_dir), first)
    # and the sink's bins match the direct increment protocol
    direct = _salted_final_bins(spark, pdf, 3, 60.0, 900.0, 300.0)
    idx = first.groupby(["antenna1", "antenna2", "bin_idx"])["n_rows"].idxmax()
    sunk = (
        first.loc[idx]
        .drop(columns=["closed", "batch_id"])
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(direct, sunk, check_dtype=False)
