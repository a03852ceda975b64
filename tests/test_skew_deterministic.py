"""Skew pre-split equivalence (ROADMAP quality backlog)."""

import pyspark.sql.functions as F

from codex_africanus_spark.operators import bda as bda_op
from codex_africanus_spark.operators import skew
from codex_africanus_spark.sources import tpch_ms


def test_salted_sessionize_matches_unsalted(spark, sf_dir):
    """Two-level (user, day-bucket) sessionize + boundary stitch must
    reproduce the single-level operator event-for-event."""
    ev = tpch_ms.events_table(spark, sf_dir)
    plain = {
        r.event_id: r.session_idx
        for r in bda_op.sessionize_relational(ev).collect()
    }
    salted = {
        r.event_id: r.session_idx
        for r in skew.salted_sessionize(ev).collect()
    }
    assert salted == plain and len(plain) > 0


def test_salted_sessionize_narrow_buckets(spark, sf_dir):
    """Bucket width < gap forces merges across empty buckets — the lag
    over absent buckets must still stitch correctly."""
    ev = tpch_ms.events_table(spark, sf_dir).filter("user_id % 17 = 0")
    plain = {
        r.event_id: r.session_idx
        for r in bda_op.sessionize_relational(ev).collect()
    }
    salted = {
        r.event_id: r.session_idx
        for r in skew.salted_sessionize(ev, bucket_us=600_000_000).collect()
    }
    assert salted == plain and len(plain) > 0


def test_salted_sum_matches_plain(spark, sf_dir):
    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.sources.tables import load

    li = load(spark, "lineitem", sf_dir)
    plain = {
        r.l_returnflag: (r.q, r.n_rows)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(quantize(F.col("l_quantity"))).alias("q"),
             F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    salted = {
        r.l_returnflag: (r.q, r.n_rows)
        for r in skew.salted_sum(
            li, ["l_returnflag"], {"q": quantize(F.col("l_quantity"))}
        ).collect()
    }
    assert salted == plain


def test_salted_sessionize_carry_across_arrow_batches(spark, sf_dir):
    """Tiny Arrow batches force (user, bucket) groups to straddle batch
    boundaries; the carry state must keep the salted result equal to the
    relational sessionizer (+ stitch) output."""
    import pandas as pd

    from codex_africanus_spark.operators import bda as bda_op
    from codex_africanus_spark.operators import skew as skew_op
    from codex_africanus_spark.sources.tpch_ms import events_table

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        ev = events_table(spark, sf_dir)
        key = ["user_id", "ts_us", "event_id"]
        got = skew_op.salted_sessionize(ev).toPandas()
        want = bda_op.sessionize_relational(ev).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True)[sorted(got.columns)],
            want.sort_values(key).reset_index(drop=True)[sorted(want.columns)],
            check_dtype=False,
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
