"""Event-time interval join: view→purchase attribution (SURVEY §2.10
extension).

The batch engine's as-of/interval joins (operators/asof.py, the
events_asof_prior_join RANGE-window pass) answer "which earlier event
explains this one". `attribution_batch` asks it for attribution: a
purchase by the same user strictly after a view and within `HORIZON`.
The join shuffles both sides on user_id once. `_attribution_join` takes
streaming frames unchanged; watermarks on both sides would then bound
the state to ingest rate × horizon per side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HORIZON = "1 hour"


def _attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """The join condition: purchase strictly after the view, within the
    horizon, same user. Works on streaming and batch frames alike."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("event_time").alias("view_time"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("purchase_time"),
        F.col("value").alias("purchase_value"),
    )
    joined = v.join(
        p,
        F.expr(
            "v_user = p_user AND "
            "purchase_time > view_time AND "
            f"purchase_time <= view_time + INTERVAL {HORIZON}"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (
            F.unix_micros(F.col("purchase_time"))
            - F.unix_micros(F.col("view_time"))
        ).alias("gap_us"),
        "purchase_value",
    )


def attribution_batch(events: DataFrame) -> DataFrame:
    """Batch twin over the same frames at rest — identical condition,
    identical output schema (the Kappa backfill path)."""
    return _attribution_join(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "purchase"),
    )
