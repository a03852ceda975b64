"""Streaming phase-unwrap twin (r12, r11 verdict item 4): the
foreachBatch increment must reproduce the batch salted query BIT-EXACTLY
across arbitrary micro-batch splits (the cross-batch corrector is the
same consecutive-pair wrap rule, so the split position must not
matter), on the real corpus AND on a wrap-dense fuzz series."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import unwrap as unwrap_op
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.streaming import unwrap as sunwrap

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini). The 3-split parity
# case is the fast default-selection check of the carry handoff.
SLOW = pytest.mark.slow


def _drive_increment(spark, ph_pdf, splits):
    """Run the increment over `splits` ordered micro-batches; return the
    final running summary."""
    ordered = ph_pdf.sort_values(["time", "row_id", "p_mrad"])
    carry = sunwrap.empty_carry(spark)
    summary = None
    schema = "antenna1 int, antenna2 int, time double, row_id long, p_mrad long, bucket long"
    for chunk in np.array_split(ordered, splits):
        if len(chunk) == 0:
            continue
        batch = spark.createDataFrame(chunk.reset_index(drop=True), schema)
        summary, carry = sunwrap.phase_unwrap_increment(batch, carry)
    return (
        summary.toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "splits", [pytest.param(1, marks=SLOW), 3, pytest.param(7, marks=SLOW)]
)
def test_streaming_unwrap_matches_batch_query(spark, sf_dir, splits):
    """Final running summary == the registered batch query, bit-exact,
    for any number of ordered micro-batches over the real corpus."""
    want = (
        registry()["phase_unwrap_salted"].fn(spark, sf_dir)
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    ph = unwrap_op.phase_frame(tpch_ms.vis_table(spark, sf_dir)).toPandas()
    got = _drive_increment(spark, ph, splits)
    pd.testing.assert_frame_equal(
        got.astype({c: "int64" for c in got.columns if c not in ("antenna1", "antenna2")}),
        want.astype({c: "int64" for c in want.columns if c not in ("antenna1", "antenna2")}),
        check_dtype=False,
    )


@SLOW
@pytest.mark.parametrize("seed", [3, 99])
@pytest.mark.parametrize("splits", [2, 5])
def test_streaming_unwrap_fuzz_wrap_dense(spark, seed, splits):
    """Adversarial series: phases hugging the ±π boundary so nearly
    every consecutive delta wraps, several baselines, bucket boundaries
    inside and between batches."""
    rng = np.random.default_rng(seed)
    rows = []
    rid = 0
    for a1, a2 in ((0, 1), (0, 2), (3, 5)):
        p = 0
        for i in range(400):
            # jump near ±π with random sign: forces dense wrapping
            p = (p + int(rng.integers(2800, 3400)) * int(rng.choice([-1, 1])))
            p_mrad = (p % 6283 + 6283) % 6283 - 3141
            t = float(i) * 900000.0  # crosses many 30-day buckets
            rows.append((a1, a2, t, rid, int(p_mrad), int(t // unwrap_op.BUCKET_SECS)))
            rid += 1
    pdf = pd.DataFrame(
        rows, columns=["antenna1", "antenna2", "time", "row_id", "p_mrad", "bucket"]
    )
    schema = "antenna1 int, antenna2 int, time double, row_id long, p_mrad long, bucket long"
    full = spark.createDataFrame(pdf, schema)
    stitched = unwrap_op.stitch_buckets(unwrap_op.bucket_summary(full))
    want = (
        unwrap_op.baseline_summary(stitched)
        .select(
            "antenna1", "antenna2",
            F.col("n_b").alias("n_samples"),
            F.col("net_b").alias("net_wraps"),
            F.col("abs_b").alias("total_wraps"),
            F.col("last_unw").alias("final_unw_mrad"),
            (F.col("max_unw") - F.col("min_unw")).alias("span_mrad"),
        )
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    got = _drive_increment(spark, pdf, splits)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the fuzz really is wrap-dense
    assert (got["total_wraps"] > 100).all()


@SLOW
def test_streaming_unwrap_sink_exactly_once(spark, sf_dir, tmp_path):
    """End-to-end through readStream/foreachBatch with availableNow: the
    last published summary equals the batch query; replaying a marked
    batch is a no-op (exactly-once marker idiom)."""
    import json
    import os

    from tests.conftest import await_done

    import pyarrow as pa
    import pyarrow.parquet as pq

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tmp_path / "vis_src"
    src.mkdir()
    pdf = vis.toPandas().sort_values(["time", "row_id"])
    for i, chunk in enumerate(np.array_split(pdf, 3)):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            src / f"part-{i:03d}.parquet",
        )
    stream = (
        spark.readStream.schema(vis.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir, exist_ok=True)
    q = (
        sunwrap.streaming_unwrap_sink(stream, out_dir, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    markers = sorted(
        f for f in os.listdir(out_dir) if f.startswith("_marker_")
    )
    assert markers
    last_id = max(int(m.split("_")[2].split(".")[0]) for m in markers)
    got = (
        spark.read.parquet(os.path.join(out_dir, f"summary_batch_{last_id}"))
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    want = (
        registry()["phase_unwrap_salted"].fn(spark, sf_dir)
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # marker makes replay a no-op
    mpath = os.path.join(out_dir, f"_marker_{last_id}.json")
    with open(mpath) as fh:
        rec = json.load(fh)
    assert rec["batch_id"] == last_id
    # every marker records the row count of the summary it commits
    for m in markers:
        with open(os.path.join(out_dir, m)) as fh:
            rec = json.load(fh)
        summary = os.path.join(out_dir, f"summary_batch_{rec['batch_id']}")
        assert rec["rows"] == spark.read.parquet(summary).count()


@SLOW
def test_streaming_unwrap_sink_survives_driver_restart(spark, sf_dir, tmp_path):
    """r12 ADVICE (high): the carry must persist on disk, not in the
    foreachBatch closure. Simulate a driver restart by running the first
    two micro-batches through ONE sink instance, then constructing a
    FRESH sink (new closure — the restarted driver) over the same
    out_dir + checkpoint and streaming the third batch. The final
    summary must still equal the batch query over the whole corpus;
    with an in-memory carry it would stitch batch 3 against an empty
    carry and silently reset n/net/min/max."""
    import os

    from tests.conftest import await_done

    import pyarrow as pa
    import pyarrow.parquet as pq

    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tmp_path / "vis_src"
    src.mkdir()
    pdf = vis.toPandas().sort_values(["time", "row_id"])
    chunks = np.array_split(pdf, 3)
    for i, chunk in enumerate(chunks[:2]):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            src / f"part-{i:03d}.parquet",
        )
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def _run_once():
        stream = (
            spark.readStream.schema(vis.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            sunwrap.streaming_unwrap_sink(stream, out_dir, ck)
            .trigger(availableNow=True)
            .start()
        )
        await_done(q)

    _run_once()  # batches 0..1, first driver
    pq.write_table(
        pa.Table.from_pandas(chunks[2], preserve_index=False),
        src / "part-002.parquet",
    )
    _run_once()  # batch 2, "restarted" driver: fresh closure, same dirs
    last_id = max(
        int(f.split("_")[2].split(".")[0])
        for f in os.listdir(out_dir)
        if f.startswith("_marker_")
    )
    assert last_id >= 2
    got = (
        spark.read.parquet(os.path.join(out_dir, f"summary_batch_{last_id}"))
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    want = (
        registry()["phase_unwrap_salted"].fn(spark, sf_dir)
        .toPandas()
        .sort_values(["antenna1", "antenna2"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
