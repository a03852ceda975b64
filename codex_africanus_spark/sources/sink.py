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

from codex_africanus_spark.sources.tables import fast_row_count


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


def merge_column_update(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    partition_by: list[str],
) -> list[tuple]:
    """MERGE-style column update on a partitioned parquet table — the
    'assign MODEL_DATA and write back' semantics of the reference's
    xds_to_table(xds, ms, ["MODEL_DATA"]) (examples/predict.py:576-586),
    i.e. Delta/Iceberg `MERGE ... WHEN MATCHED THEN UPDATE` without the
    table-format dependency (neither library ships in this container):

    1. the distinct partition values in `updates` bound the rewrite —
       untouched partitions are never read or written (at 100 TB this
       partition pruning IS the difference between a column update and
       a full-table rewrite);
    2. affected partitions are re-read, left-joined against the updates
       on `keys`, and the target columns coalesced (rows without a
       matching update keep their values — update-only, no inserts,
       matching the reference's same-row-set column assignment);
    3. rewritten partitions land in a staging directory first, then
       replace the live partition directories — the poor-man's commit
       a transactional table format would do atomically.

    Returns the list of affected partition-value tuples.
    """
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    part_vals = [
        tuple(r) for r in updates.select(*partition_by).distinct().collect()
    ]
    if not part_vals:
        return []

    existing = spark.read.parquet(path)
    pred = None
    for vals in part_vals:
        clause = None
        for col_name, v in zip(partition_by, vals):
            c = F.col(col_name) == F.lit(v)
            clause = c if clause is None else (clause & c)
        pred = clause if pred is None else (pred | clause)
    affected = existing.filter(pred)

    upd = updates.select(
        *keys, *[F.col(c).alias(f"__upd_{c}") for c in update_cols]
    )
    # a row matching multiple updates is ambiguous — same error a
    # transactional MERGE raises (and the guard against the fact table's
    # duplicate row_id keys; see FIXTURES.md)
    if upd.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count():
        raise ValueError(f"updates contain duplicate merge keys {keys}")
    merged = affected.join(F.broadcast(upd), keys, "left")
    for c in update_cols:
        merged = merged.withColumn(
            c, F.coalesce(F.col(f"__upd_{c}"), F.col(c))
        ).drop(f"__upd_{c}")

    staging = f"{path}__staging"
    merged.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)

    root, stage_root = Path(path), Path(staging)
    for vals in part_vals:
        rel = "/".join(
            f"{k}={v}" for k, v in zip(partition_by, vals)
        )
        src_dir, dst_dir = stage_root / rel, root / rel
        if not src_dir.exists():
            continue
        if dst_dir.exists():
            shutil.rmtree(dst_dir)
        dst_dir.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(src_dir), str(dst_dir))
    shutil.rmtree(stage_root, ignore_errors=True)
    return part_vals


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
       `empty_carry(spark)` for the first one;
    3. `step(batch_df, carry) -> (summary, new_carry)`;
    4. overwrite ``summary_batch_<id>`` and ``carry_<id>.parquet`` —
       batch-unique targets, so a replay after a crash between these
       writes and the marker rewrites both idempotently;
    5. take the summary's row count from its parquet footers, not a
       re-run of the summary plan;
    6. write ``_marker_<id>.json`` LAST.

    Returns the unstarted DataStreamWriter."""
    import json
    import os

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = os.path.join(out_dir, f"_marker_{batch_id}.json")
        if os.path.exists(marker):  # replayed batch: already applied
            return
        os.makedirs(out_dir, exist_ok=True)
        done = sorted(
            int(f[len("_marker_"):-len(".json")])
            for f in os.listdir(out_dir)
            if f.startswith("_marker_") and f.endswith(".json")
        )
        prev = [b for b in done if b < batch_id]
        if prev:
            carry = spark.read.schema(carry_schema).parquet(
                os.path.join(out_dir, f"carry_{prev[-1]}.parquet")
            )
        else:
            carry = empty_carry(spark)
        summary, carry_new = step(batch_df, carry)
        target = os.path.join(out_dir, f"summary_batch_{batch_id}")
        summary.write.mode("overwrite").parquet(target)
        carry_new.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"carry_{batch_id}.parquet")
        )
        rows = fast_row_count(spark.read.parquet(target))
        with open(marker, "w") as fh:
            json.dump({"batch_id": batch_id, "rows": rows}, fh)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
