"""Gap-filled hourly activity profile — shared core (r13).

The registered batch query `events_hourly_gap_fill` and the streaming
incremental twin (streaming/gapfill.py) compose these SAME functions,
so batch/stream parity holds by construction: the stream maintains the
`hourly` frame incrementally (the carry unioned into the batch's
one aggregate — exact and commutative under any micro-batch split) and
the gap statistics are recomputed by the identical `gap_fill_stats`.

Scale: `hourly` is span-bounded ((types x hours), thousands of rows at
any event cardinality), and the statistics of each type's dense hour
grid are read off it without generating the grid or joining
(plan-locked in tests/test_plans_scale.py). Events from one parquet row
group are aggregated in their one scan task with no exchange (see
`hourly_counts`), so the batch query over the one-row-group testdata
runs as one stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.sources.tables import row_groups

HOUR_US = 3_600_000_000

# Every state row has n >= 1 and a unique key, so a type's dense hour grid
# has max(h) - min(h) + 1 hours, the rows are its non-gaps, and peak and
# total are max(n) and sum(n). A null type never matches its own grid, so
# all its hours are gaps with peak and total 0. (SQL strings: building
# them is one call each, not one per operator.)
_N_HOURS = "max(h) - min(h) + 1"
_STATS = (
    f"{_N_HOURS} AS n_hours",
    f"IF(event_type IS NULL, {_N_HOURS}, {_N_HOURS} - count(1)) AS n_gap_hours",
    "IF(event_type IS NULL, 0, max(n)) AS peak_hour_events",
    "IF(event_type IS NULL, 0, sum(n)) AS total_events",
)


def hourly_counts(ev: DataFrame, carry: DataFrame | None = None) -> DataFrame:
    """Event-grain collapse to the (event_type, h, n) state frame; the
    rows of a `carry` (an earlier state frame) add into the same
    aggregate.

    When every event comes from one parquet row group (`row_groups`),
    one scan task already reads them all, so the rows and the carry are
    coalesced into that task and the aggregate needs no exchange: only
    its final merge, over span-bounded partial rows, loses parallelism.
    Any other input (several row groups or files, a non-file leaf such as
    a foreachBatch micro-batch) keeps the hash exchange."""
    rows = ev.selectExpr("event_type", f"ts_us DIV {HOUR_US} AS h", "1L AS n")
    if carry is not None:
        rows = rows.unionByName(carry)
    if row_groups(ev) == 1:
        rows = rows.coalesce(1)
    return rows.groupBy("event_type", "h").agg(F.expr("sum(n) AS n"))


def gap_fill_stats(hourly: DataFrame) -> DataFrame:
    """Statistics of each type's dense hour grid [min(h), max(h)], read
    off the sparse rows in one aggregate (see `_STATS`); a null hour is on
    no grid. At most one row per type: sorted in one partition, no range
    exchange."""
    return (
        hourly.where("h IS NOT NULL")
        .groupBy("event_type")
        .agg(*map(F.expr, _STATS))
        .coalesce(1)
        .sortWithinPartitions("event_type")
    )
