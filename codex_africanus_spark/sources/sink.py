"""Write-back sinks — the MS `xds_to_table` analogue
(/root/reference/africanus/rime/examples/predict.py:576-586: assign
MODEL_DATA, write back).

Spark-first: computed columns write to partitioned parquet. At 100 TB the
partition layout IS the query-acceleration structure: partition by the
reference's dataset grouping keys (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER —
SURVEY §1.4) so downstream scans prune, and sort within partitions by
(TIME, ANTENNA1, ANTENNA2) to re-establish the reference's ordering
contract for ordered consumers.

`marker_committed_sink` is the streaming twins' write-back: per
micro-batch summary + durable carry, committed by a batch-id marker.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from codex_africanus_spark.sources.tables import footer_sum


def write_model_data(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def marker_committed_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    carry_schema: str,
    empty_carry: Callable[[SparkSession], DataFrame],
    step: Callable[[DataFrame, DataFrame], tuple[DataFrame, DataFrame]],
):
    """foreachBatch wiring for a carry-threaded streaming twin: the
    exactly-once batch-id marker protocol with a DURABLE carry (r12
    ADVICE), so a driver restart replays against the true stream state
    instead of an empty carry. Per micro-batch:

    1. a batch whose marker exists was already applied: skip it;
    2. load the carry of the latest marker below this batch, or
       `empty_carry(spark)` for the first one. Only the first batch
       after a start (restart recovery) lists ``out_dir`` for it; the
       next batch takes the carry this sink just committed;
    3. `step(batch_df, carry) -> (summary, new_carry)`;
    4. overwrite ``summary_batch_<id>`` and ``carry_<id>.parquet`` —
       batch-unique targets, so a replay after a crash between these
       writes and the marker rewrites both idempotently;
    5. take the summary's row count from the written files' parquet
       footers (`tables.footer_sum`), with no schema-inference job;
    6. write ``_marker_<id>.json`` LAST;
    7. delete the carries of earlier batches (`_reclaim_carries`): a
       marked batch is never replayed, and every later batch reads this
       carry or a newer one, so ``out_dir`` holds one carry at rest.

    Returns the unstarted DataStreamWriter."""
    import json
    import os

    last = None  # the id of the batch this sink last committed

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal last
        spark = batch_df.sparkSession
        marker = os.path.join(out_dir, f"_marker_{batch_id}.json")
        if os.path.exists(marker):  # replayed batch: already applied
            return
        if last is not None and batch_id == last + 1:
            prev, names = last, [f"carry_{last}.parquet"]
        else:
            os.makedirs(out_dir, exist_ok=True)
            names = os.listdir(out_dir)
            done = [int(f[len("_marker_"):-len(".json")]) for f in names
                    if f.startswith("_marker_") and f.endswith(".json")]
            prev = max((b for b in done if b < batch_id), default=None)
        if prev is None:
            carry = empty_carry(spark)
        else:
            carry = spark.read.schema(carry_schema).parquet(
                os.path.join(out_dir, f"carry_{prev}.parquet")
            )
        summary, carry_new = step(batch_df, carry)
        target = os.path.join(out_dir, f"summary_batch_{batch_id}")
        summary.write.mode("overwrite").parquet(target)
        carry_new.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"carry_{batch_id}.parquet")
        )
        rows = footer_sum([target], "num_rows")
        with open(marker, "w") as fh:
            json.dump({"batch_id": batch_id, "rows": rows}, fh)
        _reclaim_carries(out_dir, names, batch_id)
        last = batch_id

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def _reclaim_carries(out_dir: str, names, batch_id: int) -> None:
    """Delete the ``carry_<id>.parquet`` entries among `names` (a listing
    of `out_dir`) whose id is below `batch_id`, once that batch's marker
    is written; a crash before this call leaves them for the next batch's
    reclaim."""
    import os
    import shutil

    for f in names:
        if (f.startswith("carry_") and f.endswith(".parquet")
                and int(f[len("carry_"):-len(".parquet")]) < batch_id):
            shutil.rmtree(os.path.join(out_dir, f), ignore_errors=True)
