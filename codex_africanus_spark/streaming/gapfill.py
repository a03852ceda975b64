"""Streaming twin of the gap-filled hourly profile (r13, ROADMAP r14
candidate "gap-fill: incremental grid maintenance").

Kappa shape, the streaming/cdc.py idiom: the carry IS the sparse
(event_type, hour) count state — span-bounded (types x hours), never
event-grain — maintained by an exact commutative integer merge, so the
running state after batch N equals `hourly_counts` over the
concatenated prefix WHEREVER the micro-batch boundaries fall. Each
step recomputes the gap statistics through the SAME
operators/gapfill.gap_fill_stats the registered batch query uses —
every published summary is the batch query's exact answer over the
data seen so far (the dense grid re-derives from the merged bounds, so
a batch that extends a type's span retroactively lengthens its grid,
exactly as the batch query would).

In-process handoff: each step collects the merged carry through Arrow
and hands it back as a JVM ``LocalRelation`` (`sources.tables.localize`)
— no Python worker scans it and the planner sees its real size.

The durable carry stays on disk (`sources.sink.marker_committed_sink`):
``carry_<batch_id>.parquet`` beside the summaries, reloaded from the
latest marker-committed batch each step, marker written LAST (the
r12-ADVICE restart discipline) — a driver restart replays against the
true stream state. The marker's row count comes from the written
summary's parquet footers, not a re-run of the summary plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.operators import gapfill as gapfill_op
from codex_africanus_spark.sources.sink import marker_committed_sink
from codex_africanus_spark.sources.tables import local_frame, localize

CARRY_SCHEMA = "event_type string, h long, n long"


def empty_carry(spark) -> DataFrame:
    return local_frame(spark, [], CARRY_SCHEMA)


def gap_fill_increment(
    batch_ev: DataFrame, carry: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: collapse the batch to hourly counts, merge
    into the carry (exact integer add), recompute the gap statistics
    from the merged state. Returns (summary, new_carry)."""
    inc = gapfill_op.hourly_counts(batch_ev)
    c = carry.select("event_type", "h", F.col("n").alias("c_n"))
    merged = (
        inc.join(c, ["event_type", "h"], "full_outer")
        .select(
            "event_type",
            "h",
            (
                F.coalesce(F.col("c_n"), F.lit(0))
                + F.coalesce(F.col("n"), F.lit(0))
            ).alias("n"),
        )
    )
    new_carry = localize(merged)
    return gapfill_op.gap_fill_stats(new_carry), new_carry


def streaming_gap_fill_sink(
    stream_ev: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch wiring: `gap_fill_increment` under the
    marker-committed durable-carry protocol (`sources.sink`)."""
    return marker_committed_sink(
        stream_ev, out_dir, checkpoint_dir,
        CARRY_SCHEMA, empty_carry, gap_fill_increment,
    )
