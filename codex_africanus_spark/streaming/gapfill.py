"""Streaming twin of the gap-filled hourly profile (r13).

Kappa shape, the streaming/cdc.py idiom: the carry IS the sparse
(event_type, hour) count state — span-bounded (types x hours), never
event-grain — maintained by an exact commutative integer merge (one
aggregate over the batch and the carry), so the running state after
batch N equals `hourly_counts` over the concatenated prefix WHEREVER
the micro-batch boundaries fall. Each step recomputes the gap
statistics through the SAME operators/gapfill.gap_fill_stats the
registered batch query uses — every published summary is the batch
query's exact answer over the data seen so far (spans re-derive from
the merged counts, so a batch that extends a type's span retroactively
adds its hours, exactly as the batch query would).

In-process handoff: each step collects the merged carry through Arrow
and hands it back as a JVM ``LocalRelation`` (`sources.tables.localize`)
— no Python worker scans it and the planner sees its real size. A batch
cut from one parquet row group merges with that carry in its one scan
task (`hourly_counts`), so the step is one Spark job with no exchange;
any other batch keeps the hash exchange before the aggregate.

The durable carry, committed by a marker written last so a restarted
driver replays against the true state, is `sources.sink.marker_committed_sink`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from codex_africanus_spark.operators import gapfill as gapfill_op
from codex_africanus_spark.sources.sink import marker_committed_sink
from codex_africanus_spark.sources.tables import local_frame, localize

CARRY_SCHEMA = "event_type string, h long, n long"


def empty_carry(spark) -> DataFrame:
    return local_frame(spark, [], CARRY_SCHEMA)


def gap_fill_increment(
    batch_ev: DataFrame, carry: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: collapse the batch to hourly counts and add
    the carry in the same aggregate (exact integer add), recompute the
    gap statistics from the merged state. Returns (summary, new_carry).
    The merge is one job, with no exchange when the batch comes from one
    parquet row group. The merged carry is driver-held, so the
    statistics read it as one partition and need no exchange."""
    new_carry = localize(gapfill_op.hourly_counts(batch_ev, carry))
    return gapfill_op.gap_fill_stats(new_carry.coalesce(1)), new_carry


def streaming_gap_fill_sink(
    stream_ev: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch wiring: `gap_fill_increment` under the
    marker-committed durable-carry protocol (`sources.sink`)."""
    return marker_committed_sink(
        stream_ev, out_dir, checkpoint_dir,
        CARRY_SCHEMA, empty_carry, gap_fill_increment,
    )
