"""Streaming deduplication — the training-data pipeline's continuous
counterpart of the batch dedup tier (operators/dedup.py).

The reference is batch-only (SURVEY §2.10); in a continuous ingest
pipeline the dedup decision must be made per arriving document against
state, not against a full-table groupBy. Two built-in tiers:

- `streaming_exact_dedup`: dropDuplicatesWithinWatermark on the content
  digest — first arrival wins, later copies are dropped across
  micro-batches via the state store, and digest state older than the
  watermark is evicted. Bounded state is the scale property a batch
  groupBy cannot offer a 100 TB/day feed: state size is
  O(docs per watermark window), not O(all docs ever).
- `streaming_fingerprint_counts`: running per-digest copy counters in
  update mode (the n_copies view of the batch exact_dedup), for
  dup-rate dashboards.

Batch/stream parity: digests are the same md5 expression as
operators/dedup.exact_dedup, so a batch backfill and the stream agree on
what is a duplicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(
    stream: DataFrame,
    time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first arrival of each content digest; drop later copies
    arriving within the watermark of the first."""
    return (
        stream.withColumn("content_digest", F.md5(F.col("text")))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["content_digest"])
    )


def streaming_fingerprint_counts(
    stream: DataFrame,
    time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Running copy-count per content digest (update-mode aggregate)."""
    return (
        stream.withColumn("content_digest", F.md5(F.col("text")))
        .withWatermark(time_col, watermark)
        .groupBy("content_digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )
