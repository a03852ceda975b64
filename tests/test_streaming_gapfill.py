"""Streaming gap-fill twin (r13): incremental maintenance of the hourly
counts must reproduce the registered batch query BIT-EXACTLY across
arbitrary micro-batch splits — including splits that EXTEND a type's
hour span retroactively (the statistics re-derive from the merged
counts every step) — and the sink must survive a driver restart
(durable carry) and batch replay (marker idiom)."""

import os
import re

import numpy as np
import pandas as pd
import pytest

from codex_africanus_spark.operators import gapfill as gapfill_op
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import (
    local_frame,
    localize,
    row_groups,
)
from codex_africanus_spark.streaming import gapfill as sgap

from tests.conftest import fuzz_compare

EV_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)


def _want(spark, sf_dir):
    return (
        registry()["events_hourly_gap_fill"].fn(spark, sf_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )


def _summarize(df):
    return df.toPandas().sort_values("event_type").reset_index(drop=True)


def _rows(df):
    return df.toPandas().sort_values(df.columns).reset_index(drop=True)


@pytest.mark.parametrize(
    "splits,shuffle",
    [
        pytest.param(1, False, marks=pytest.mark.slow),
        (3, True),
        pytest.param(4, True, marks=pytest.mark.slow),
        pytest.param(9, True, marks=pytest.mark.slow),
    ],
)
def test_streaming_gapfill_matches_batch_query(
    spark, sf_dir, tmp_path, splits, shuffle
):
    """Final running summary == the registered batch query for any
    split count; shuffled arrival makes later batches extend spans
    BACKWARD (the retroactive-grid case)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    pdf = ev.toPandas()
    if shuffle:
        pdf = pdf.sample(frac=1.0, random_state=11).reset_index(drop=True)
    carry = sgap.empty_carry(spark)
    summary = None
    for chunk in np.array_split(pdf, splits):
        if len(chunk) == 0:
            continue
        batch = spark.createDataFrame(chunk.reset_index(drop=True), EV_SCHEMA)
        summary, carry = sgap.gap_fill_increment(batch, carry)
    pd.testing.assert_frame_equal(
        _summarize(summary), _want(spark, sf_dir),
        check_dtype=False, check_exact=True,
    )


@pytest.mark.slow
def test_streaming_gapfill_every_prefix_is_a_valid_answer(spark, sf_dir):
    """Each intermediate summary must equal the batch core applied to
    the exact prefix seen so far — the Kappa point-in-time property
    (not just final-state parity)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    pdf = ev.toPandas().sample(frac=1.0, random_state=3).reset_index(drop=True)
    carry = sgap.empty_carry(spark)
    seen = []
    for chunk in np.array_split(pdf, 4):
        if len(chunk) == 0:
            continue
        seen.append(chunk)
        batch = spark.createDataFrame(chunk.reset_index(drop=True), EV_SCHEMA)
        summary, carry = sgap.gap_fill_increment(batch, carry)
        prefix = spark.createDataFrame(
            pd.concat(seen).reset_index(drop=True), EV_SCHEMA
        )
        want = _summarize(
            gapfill_op.gap_fill_stats(gapfill_op.hourly_counts(prefix))
        )
        pd.testing.assert_frame_equal(
            _summarize(summary), want, check_dtype=False
        )


@pytest.mark.slow
def test_streaming_gapfill_sink_exactly_once_and_restart(
    spark, sf_dir, tmp_path
):
    """End-to-end readStream/foreachBatch: two micro-batches under one
    sink instance, then a FRESH sink (fresh closure = restarted driver)
    over the same out_dir/checkpoint for the third. The durable carry
    must survive; the final summary equals the batch query; a marked
    batch replays as a no-op."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import await_done

    ev = tpch_ms.events_table(spark, sf_dir)
    src = tmp_path / "ev_src"
    src.mkdir()
    pdf = ev.toPandas().sort_values(["ts_us", "event_id"])
    chunks = np.array_split(pdf, 3)
    for i, chunk in enumerate(chunks[:2]):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            src / f"part-{i:03d}.parquet",
        )
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def _run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            sgap.streaming_gap_fill_sink(stream, out_dir, ck)
            .trigger(availableNow=True)
            .start()
        )
        await_done(q)

    _run_once()  # batches 0..1, first driver
    pq.write_table(
        pa.Table.from_pandas(chunks[2], preserve_index=False),
        src / "part-002.parquet",
    )
    _run_once()  # batch 2, "restarted" driver
    markers = [f for f in os.listdir(out_dir) if f.startswith("_marker_")]
    last_id = max(int(m.split("_")[2].split(".")[0]) for m in markers)
    assert last_id >= 2
    got = (
        spark.read.parquet(os.path.join(out_dir, f"summary_batch_{last_id}"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _want(spark, sf_dir), check_dtype=False)
    with open(os.path.join(out_dir, f"_marker_{last_id}.json")) as fh:
        assert json.load(fh)["batch_id"] == last_id
    # every marker records the row count of the summary it commits
    for m in markers:
        with open(os.path.join(out_dir, m)) as fh:
            rec = json.load(fh)
        summary = os.path.join(out_dir, f"summary_batch_{rec['batch_id']}")
        assert rec["rows"] == spark.read.parquet(summary).count()

def _edge_events_dir(tmp_path):
    """An events table with a null event_type (hours 0, 0, 3), a type
    seen in one hour only (5), a type with interior gaps (1, 1, 2, 6, 9)
    plus one event without a timestamp. Event ids are shuffled against
    time, so later micro-batches extend spans backward."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0, hour = 1_704_067_200_000_000, gapfill_op.HOUR_US
    rows = (
        [(None, 0), (None, 0), (None, 3)]
        + [("single", 5)] * 3
        + [("gappy", h) for h in (1, 1, 2, 6, 9)]
        + [("gappy", None)]
    )
    order = np.random.default_rng(5).permutation(len(rows))
    rows = [rows[i] for i in order]
    ts = [None if h is None else t0 + h * hour + 17 * i
          for i, (_, h) in enumerate(rows)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7] * len(rows), pa.int64()),
            "event_type": pa.array([t for t, _ in rows], pa.string()),
            "value": pa.array([1.25] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }),
        tmp_path / "events.parquet",
    )
    return str(tmp_path), len(rows)


@pytest.mark.parametrize("splits", [1, 2, 3])
def test_gapfill_null_type_and_single_hour_edges(spark, tmp_path, splits):
    """The batch query (1 split) and the streaming twin (2 and 3 splits)
    against the DuckDB oracle on the edge groups: a null type counts
    every hour of its span as a gap with peak and total 0, a one-hour
    type has no gap, an event without a timestamp lies on no grid."""
    import duckdb

    d, n = _edge_events_dir(tmp_path)
    if splits == 1:
        got = registry()["events_hourly_gap_fill"].fn(spark, d)
    else:
        ev = tpch_ms.events_table(spark, d)
        carry = sgap.empty_carry(spark)
        for part in np.array_split(np.arange(n), splits):
            batch = ev.filter(
                ev.event_id.between(int(part[0]), int(part[-1]))
            )
            got, carry = sgap.gap_fill_increment(batch, carry)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    want = con.execute(registry()["events_hourly_gap_fill"].oracle).df()
    assert want["event_type"].isna().sum() == 1  # the edge is exercised
    fuzz_compare(got.toPandas(), want, f"gap fill, {splits} split(s)")


def test_gapfill_increment_job_budget(spark, sf_dir):
    """One increment over a one-row-group batch is one aggregate, with no
    exchange, collected to the driver: 1 Spark job. Publishing its
    summary aggregates the driver-held carry in one partition: 1 job."""
    sc = spark.sparkContext
    ev = tpch_ms.events_table(spark, sf_dir)
    assert row_groups(ev) == 1
    carry = sgap.empty_carry(spark)

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    n, (summary, carry) = jobs(
        "gapfill-increment", lambda: sgap.gap_fill_increment(ev, carry)
    )
    assert n <= 1, f"increment launched {n} jobs"
    n, _ = jobs(
        "gapfill-summary",
        lambda: summary.write.format("noop").mode("overwrite").save(),
    )
    assert n <= 1, f"summary write launched {n} jobs"


def _increment_aggregate(monkeypatch, batch, carry):
    """(summary, carry, the executed plan of the aggregate that
    `gap_fill_increment` hands to `localize`)."""
    seen = []

    def recorded(df):
        seen.append(df._jdf.queryExecution().executedPlan().toString())
        return localize(df)

    monkeypatch.setattr(sgap, "localize", recorded)
    summary, carry = sgap.gap_fill_increment(batch, carry)
    assert len(seen) == 1
    return summary, carry, seen[0]


def test_gapfill_one_row_group_increment_has_no_exchange(
    spark, sf_dir, monkeypatch
):
    """Every event of a batch cut from one parquet row group is read by
    one scan task, so the batch rows and a non-empty carry merge in that
    task: `Coalesce 1` below the aggregate and no exchange."""
    ev = tpch_ms.events_table(spark, sf_dir)
    _, carry = sgap.gap_fill_increment(
        ev.filter("event_id % 2 = 0"), sgap.empty_carry(spark)
    )
    batch = ev.filter("event_id % 2 = 1")
    assert row_groups(batch) == 1
    summary, _, plan = _increment_aggregate(monkeypatch, batch, carry)
    assert "Coalesce 1" in plan
    assert "LocalTableScan" in plan  # the carry is in the same aggregate
    assert "Exchange" not in plan
    pd.testing.assert_frame_equal(
        _summarize(summary), _want(spark, sf_dir),
        check_dtype=False, check_exact=True,
    )


def test_gapfill_several_row_groups_keep_the_exchange(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A batch read from a parquet file with 2 row groups may be split
    over 2 scan tasks: the increment keeps the hash exchange on
    (event_type, h) and gives the same bits as the one-row-group read of
    the same events."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    two = tmp_path / "two"
    two.mkdir()
    pq.write_table(
        table, two / "events.parquet", row_group_size=-(-table.num_rows // 2)
    )
    batch = tpch_ms.events_table(spark, str(two))
    assert row_groups(batch) == 2
    empty = sgap.empty_carry(spark)
    summary, carry, plan = _increment_aggregate(monkeypatch, batch, empty)
    assert re.search(r"Exchange hashpartitioning\(event_type#\d+, h#", plan)
    assert "Coalesce 1" not in plan

    one_summary, one_carry = sgap.gap_fill_increment(
        tpch_ms.events_table(spark, sf_dir), empty
    )
    for got, want in ((summary, one_summary), (carry, one_carry)):
        pd.testing.assert_frame_equal(_rows(got), _rows(want), check_exact=True)


def test_row_groups_is_none_without_a_parquet_leaf(spark, sf_dir):
    """`row_groups` counts the row groups of the scanned files through
    filters and projections, and is None when a leaf is not a local
    parquet scan, such as a driver-held carry."""
    ev = tpch_ms.events_table(spark, sf_dir)
    assert row_groups(ev.filter("event_id < 10").select("event_type")) == 1
    assert row_groups(sgap.empty_carry(spark)) is None
    assert row_groups(ev.unionByName(ev)) == 1
    carry = local_frame(spark, [("a", 1, 2)], sgap.CARRY_SCHEMA)
    assert row_groups(
        ev.selectExpr("event_type", "0L AS h", "1L AS n").unionByName(carry)
    ) is None


def test_gapfill_sink_keeps_one_carry(spark, sf_dir, tmp_path, monkeypatch):
    """Once a batch's marker is written no replay reads an older carry:
    after k micro-batches `out_dir` holds the carry of the last one only,
    and its summary is still the batch query's answer. Only the run's
    first batch lists `out_dir`; each later one takes the carry of the
    batch before it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import await_done

    listed = []
    listdir = os.listdir

    def counted(path="."):
        listed.append(os.fspath(path))
        return listdir(path)

    monkeypatch.setattr(os, "listdir", counted)
    ev = tpch_ms.events_table(spark, sf_dir)
    src = tmp_path / "ev_src"
    src.mkdir()
    pdf = ev.toPandas().sort_values(["ts_us", "event_id"])
    for i, chunk in enumerate(np.array_split(pdf, 3)):
        path = src / f"part-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (1_000_000_000 + i * 100,) * 2)
    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sgap.streaming_gap_fill_sink(stream, out_dir, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    assert listed.count(out_dir) == 1
    names = os.listdir(out_dir)
    assert sorted(f for f in names if f.startswith("_marker_")) == [
        f"_marker_{b}.json" for b in range(3)
    ]
    assert [f for f in names if f.startswith("carry_")] == ["carry_2.parquet"]
    pd.testing.assert_frame_equal(
        _summarize(spark.read.parquet(os.path.join(out_dir, "summary_batch_2"))),
        _want(spark, sf_dir), check_dtype=False, check_exact=True,
    )


def test_gapfill_sink_batch_job_budget(spark, sf_dir, tmp_path):
    """One sink micro-batch runs 4 Spark jobs: the increment's collect of
    the merged carry, the summary write with the broadcast it plans, and
    the carry write. The marker's row count comes from the footers of
    the files just written, with no schema-inference job."""
    import json

    from tests.conftest import await_done

    src = tmp_path / "ev_src"
    tpch_ms.events_table(spark, sf_dir).write.parquet(str(src))
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(EV_SCHEMA).parquet(str(src))
    q = (
        sgap.streaming_gap_fill_sink(stream, out_dir, str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= 4, f"one micro-batch launched {len(jobs)} jobs"
    with open(os.path.join(out_dir, "_marker_0.json")) as fh:
        rows = json.load(fh)["rows"]
    summary = spark.read.parquet(os.path.join(out_dir, "summary_batch_0"))
    assert rows == summary.count() > 0
