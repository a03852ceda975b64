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


def test_salted_bda_phase_b_raises_on_broken_entry_region():
    """Phase B's entry-region contract holds under `python -O` too: a
    bucket summary whose region ends before i* raises a ValueError that
    names the baseline, bucket and carry, not an assert. Both an open
    bin started in this batch and one carried from an earlier batch
    (c_bin, c_start, c_acc) are checked."""
    import pandas as pd
    import pytest

    summary = pd.DataFrame({
        "antenna1": [0, 0],
        "antenna2": [1, 1],
        "__bucket": [0, 1],
        "qb_last": [0, 100],      # bucket 1 is not absorbed whole ...
        "t_last": [0.0, 1.0],
        "r_q": [[0], [0, 5]],     # ... but its region stops at Qb <= tol_q
        "r_t": [[0.0], [0.5, 0.6]],
        "r_nclosed": [[0], [0, 0]],
        "r_exit_acc": [[0], [0, 0]],
        "r_exit_t": [[0.0], [0.0, 0.0]],
        "c_bin": [None, None],    # no bin carried in
        "c_start": [None, None],
        "c_acc": [None, None],
    })
    phase_b = skew.salted_bda_phase_b(10, 900.0)
    with pytest.raises(
        ValueError, match=r"i\*=2 >= \|entry region\|=2 for baseline=\(0,1\) "
        r"bucket=1 acc_carry=0"
    ):
        phase_b(summary)

    carried = pd.DataFrame({
        "antenna1": [0],
        "antenna2": [1],
        "__bucket": [3],
        "qb_last": [100],         # the carried bin does not absorb it ...
        "t_last": [1.0],
        "r_q": [[0, 2]],          # ... and its region stops at Qb <= 10 - 7
        "r_t": [[0.5, 0.6]],
        "r_nclosed": [[0, 0]],
        "r_exit_acc": [[0, 0]],
        "r_exit_t": [[0.0, 0.0]],
        "c_bin": [4],
        "c_start": [0.0],
        "c_acc": [7],
    })
    with pytest.raises(
        ValueError, match=r"i\*=2 >= \|entry region\|=2 for baseline=\(0,1\) "
        r"bucket=3 acc_carry=7"
    ):
        phase_b(carried)
