"""Shared core of the CDC-refreshed versioned-dimension join (r13,
r12 verdict item 3 / ROADMAP candidate).

The registered batch query `events_cdc_dim_state_join`
(queries/events.py) and the streaming twin
(streaming/cdc.py:streaming_cdc_dim_sink) both build their plans from
THESE functions — parity by construction: the per-epoch pinned-version
broadcast join and the integer (epoch, segment) aggregate are the same
Column expressions, so the running streaming summary after the last
micro-batch is bit-equal to the batch query wherever the batch
boundaries fall (the aggregate is a sum/count of integers — commutative
and associative across batches).

Semantics (the versioned-dim contract): the dimension root receives
exactly one append per epoch, in epoch order, so epoch ``e`` is served
by snapshot version ``e + 1``; an event joins the dim state AS OF its
OWN epoch's version (not its arrival batch), and unmatched users land
in segment -1. The streaming twin therefore requires epoch-``e`` events
to arrive only after version ``e + 1`` commits (CDC runs ahead of the
fact stream — the dim-watermark gating contract); a violating batch
raises instead of silently mis-joining.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH0_US = 1704067200 * 1000000
WEEK_US = 7 * 86400 * 1000000
MAX_EPOCH = 2


def epoch_col():
    """Event epoch: week index since EPOCH0, clamped to MAX_EPOCH."""
    return F.least(
        F.expr(f"(ts_us - {EPOCH0_US}L) DIV {WEEK_US}L"), F.lit(MAX_EPOCH)
    ).cast("long")


def pinned_states(
    spark: SparkSession, root: str, versions: list[int]
) -> list[tuple[int, DataFrame]]:
    """(epoch, dim-state) pairs, each epoch pinned to its version."""
    from codex_africanus_spark.sources import snapshot as snap

    return [
        (e, snap.read_snapshot(spark, root, version=v))
        for e, v in enumerate(versions)
    ]


def tag_events(ev: DataFrame, states: list[tuple[int, DataFrame]]) -> DataFrame:
    """Per-epoch broadcast join against the pinned dim state →
    (epoch, segment, value) rows; unmatched users → segment -1."""
    parts = []
    for e, state in states:
        ev_e = ev.filter(epoch_col() == e).select("event_id", "user_id", "value")
        parts.append(
            ev_e.join(F.broadcast(state), "user_id", "left").select(
                F.lit(e).cast("long").alias("epoch"),
                F.coalesce(F.col("segment"), F.lit(-1)).alias("segment"),
                "value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def agg_events(tagged: DataFrame) -> DataFrame:
    """Integer (epoch, segment) aggregate — cent-grid value sum, so the
    merge across micro-batches is exact."""
    return tagged.groupBy("epoch", "segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
        .alias("val_c_sum"),
    )


def dim_new_counts(
    spark: SparkSession, root: str, versions: list[int]
) -> DataFrame:
    """Per-epoch (segment, n_dim_new) from the snapshot CDC increments:
    read_changes over each epoch's (v-1, v] window."""
    from codex_africanus_spark.sources import snapshot as snap

    parts = []
    for e, ver in enumerate(versions):
        parts.append(
            snap.read_changes(spark, root, ver - 1, ver)
            .groupBy("segment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_dim_new"))
            .select(F.lit(e).cast("long").alias("epoch"), "segment", "n_dim_new")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def final_summary(ev_agg: DataFrame, dim_new: DataFrame) -> DataFrame:
    """The registered query's output shape: event aggregates left-joined
    with the per-epoch dim-increment counts."""
    return (
        ev_agg.join(F.broadcast(dim_new), ["epoch", "segment"], "left")
        .select(
            "epoch", "segment", "n_events", "val_c_sum",
            F.coalesce(F.col("n_dim_new"), F.lit(0)).cast("long")
            .alias("n_dim_new"),
        )
        .orderBy("epoch", "segment")
    )
