"""Streaming twin of the CDC-refreshed versioned-dimension join (r13,
r12 verdict item 3 / ROADMAP candidate).

Kappa shape, the streaming/unwrap.py idiom: `cdc_dim_increment` is a
pure (event micro-batch, carry) → (running summary, new carry) function
built from the SAME operators/cdc.py core the registered batch query
`events_cdc_dim_state_join` composes — parity by construction. The
(epoch, segment) aggregate is integer (count + cent-grid value sum), so
merging per-batch partials into the carry is exact and commutative:
the running summary after the last batch is bit-equal to the batch
query over the concatenated input WHEREVER the batch boundaries fall
(tests/test_streaming_cdc.py fuzzes the splits).

The DIMENSION REFRESH is real: every micro-batch re-resolves the
snapshot root's committed versions (`foreachBatch` broadcast refresh) —
a dim append between batches is visible to the next batch without
restarting the stream. The versioned-dim contract (operators/cdc.py):
one append per epoch in epoch order, and epoch-``e`` events arrive only
after version ``e + 1`` commits (CDC ahead of facts). A batch holding
an event whose epoch's version has not yet committed raises
``ValueError`` — loud, never a silent mis-join.

Carry per (epoch, segment): n_events + val_c_sum — two integers,
independent of history length. In process, each step collects the
merged carry through Arrow and hands it back as a JVM ``LocalRelation``
(`sources.tables.localize`): no Python worker scans it and the planner
sees its real size. The marker-committed carry stays on disk, DURABLE
as ``carry_<batch_id>.parquet`` beside the summaries (the
r12-ADVICE salted/unwrap idiom: reload the latest marker-committed
carry each batch, marker written last), so a driver restart replays
against the true stream state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.operators import cdc as cdc_op
from codex_africanus_spark.sources.sink import marker_committed_sink
from codex_africanus_spark.sources.tables import local_frame, localize

CARRY_SCHEMA = "epoch long, segment long, n_events long, val_c_sum long"


def empty_carry(spark) -> DataFrame:
    return local_frame(spark, [], CARRY_SCHEMA)


def cdc_dim_increment(
    batch_ev: DataFrame, carry: DataFrame, root: str
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: resolve the root's committed versions,
    check the dim-watermark contract, run the shared tag+agg core, and
    integer-merge into the carry.

    Returns (summary, new_carry); summary is the registered batch
    query's exact output shape (the dim-increment counts join on every
    step so each published summary is a valid point-in-time answer)."""
    from codex_africanus_spark.sources import snapshot as snap

    spark = batch_ev.sparkSession
    latest = snap.latest_version(root)
    if latest is None:
        raise ValueError(
            "cdc_dim_increment: no committed dim version under "
            f"{root!r} — the versioned-dim contract requires the CDC "
            "feed to run ahead of the fact stream"
        )
    # contract check: every event's epoch must be served by a committed
    # version (epoch e <-> version e+1). Checked with an explicit
    # short-circuit action — tag_events' per-epoch filters would
    # silently DROP an ahead-of-watermark event otherwise, which is the
    # one failure mode this twin must never have.
    max_epoch = latest - 1
    if batch_ev.filter(cdc_op.epoch_col() > F.lit(max_epoch)).limit(1).count():
        raise ValueError(
            "cdc_dim_increment: event epoch beyond the committed dim "
            f"watermark (latest version {latest}) — the versioned-dim "
            "contract requires CDC to run ahead of the fact stream"
        )
    versions = list(range(1, latest + 1))
    states = cdc_op.pinned_states(spark, root, versions)
    inc = cdc_op.agg_events(cdc_op.tag_events(batch_ev, states))
    c = carry.select(
        "epoch", "segment",
        F.col("n_events").alias("c_n"), F.col("val_c_sum").alias("c_v"),
    )
    merged = (
        inc.join(c, ["epoch", "segment"], "full_outer")
        .select(
            "epoch", "segment",
            (F.coalesce(F.col("c_n"), F.lit(0))
             + F.coalesce(F.col("n_events"), F.lit(0))).alias("n_events"),
            (F.coalesce(F.col("c_v"), F.lit(0))
             + F.coalesce(F.col("val_c_sum"), F.lit(0))).alias("val_c_sum"),
        )
    )
    new_carry = localize(merged)
    dim_new = cdc_op.dim_new_counts(spark, root, versions)
    return cdc_op.final_summary(new_carry, dim_new), new_carry


def streaming_cdc_dim_sink(
    stream_ev: DataFrame, root: str, out_dir: str, checkpoint_dir: str
):
    """foreachBatch wiring: `cdc_dim_increment` against the freshly
    resolved dim versions of `root`, under the marker-committed
    durable-carry protocol (`sources.sink`)."""
    return marker_committed_sink(
        stream_ev, out_dir, checkpoint_dir, CARRY_SCHEMA, empty_carry,
        lambda batch_df, carry: cdc_dim_increment(batch_df, carry, root),
    )
