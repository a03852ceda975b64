"""Branch-registry lifecycle under serving load (r13, r12 verdict
item 4): probe-serving reads must stay exact across branch-removal /
re-branch cycles with interleaved AND concurrent vacuum; a dropped
branch must fail loudly, never answer from reclaimed data; and
create_branch must detect losing the race with a concurrent vacuum
instead of registering a corpse."""

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.sources import snapshot as snap


def _snap_df(spark, tag, n=4):
    return spark.range(n).selectExpr("id", f"'{tag}' AS tag")


def _tags(spark, root, version=None):
    df = snap.read_snapshot(spark, root, version=version)
    return sorted((r.tag, r.id) for r in df.collect())


def test_probe_serving_across_drop_rebranch_vacuum_cycles(spark, tmp_path):
    """Sequential lifecycle churn: branch A serves a pinned view while
    branch B is dropped, the source vacuumed, B re-created at a newer
    base, and vacuumed again. Every A read across the churn must be
    byte-identical to the first."""
    main = str(tmp_path / "main")
    a = str(tmp_path / "serve_a")
    b = str(tmp_path / "scratch_b")
    snap.commit(_snap_df(spark, "v1"), main, mode="overwrite")        # v1
    snap.commit(_snap_df(spark, "v2", n=3), main, mode="overwrite")   # v2
    snap.create_branch(main, a)                                       # base 2
    snap.create_branch(main, b)                                       # base 2
    want = _tags(spark, a)
    assert want == [("v2", 0), ("v2", 1), ("v2", 2)]
    snap.commit(_snap_df(spark, "v3", n=2), main, mode="overwrite")   # v3
    for cycle in range(3):
        shutil.rmtree(b)
        snap.vacuum(main, retain_from_version=3)
        assert _tags(spark, a) == want          # A survives B's GC
        snap.create_branch(main, b)             # re-branch at new head
        snap.vacuum(main, retain_from_version=3)
        assert _tags(spark, a) == want
        assert _tags(spark, b) == [("v3", 0), ("v3", 1)]
    regs = set(snap.registered_branches(main))
    assert regs == {os.path.abspath(a), os.path.abspath(b)}


def test_rebranch_same_root_reregisters_new_base(spark, tmp_path):
    """drop + re-create at the SAME path: exactly one registry marker,
    carrying the NEW base, and vacuum pins the new view."""
    import json

    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "old"), main, mode="overwrite")       # v1
    snap.create_branch(main, dev)                                     # base 1
    snap.commit(_snap_df(spark, "new", n=2), main, mode="overwrite")  # v2
    shutil.rmtree(dev)
    snap.create_branch(main, dev)                                     # base 2
    reg = [
        json.loads(open(os.path.join(main, "_branches", m)).read())
        for m in os.listdir(os.path.join(main, "_branches"))
        if m.endswith(".json")
    ]
    assert len(reg) == 1 and reg[0]["base_version"] == 2
    snap.vacuum(main, retain_from_version=2)
    assert _tags(spark, dev) == [("new", 0), ("new", 1)]


def test_dropped_branch_read_fails_loudly(spark, tmp_path):
    """Serving from a removed branch must raise — the branch
    dir (including its log) is gone, so no stale answer is possible."""
    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "a"), main, mode="overwrite")
    snap.create_branch(main, dev)
    shutil.rmtree(dev)
    with pytest.raises(Exception):
        snap.read_snapshot(spark, dev).collect()


def test_create_branch_detects_concurrent_vacuum_loss(spark, tmp_path):
    """The registration-then-validate guard: if the base version's data
    dirs vanish under create_branch (a vacuum whose registry walk
    predated the registration), it must raise SnapshotConflictError and
    leave NO registration and NO branch corpse behind."""
    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "a"), main, mode="overwrite")         # v1
    snap.commit(_snap_df(spark, "b", n=2), main, mode="overwrite")    # v2
    # simulate the interleaving deterministically: reclaim v1's txn dir
    # the way the racing vacuum would, then branch at the dead base
    live_v2 = {f.split("/")[1] for f in snap.snapshot_files(main, 2)}
    data = os.path.join(main, "data")
    for d in os.listdir(data):
        if d not in live_v2:
            shutil.rmtree(os.path.join(data, d))
    with pytest.raises(snap.SnapshotConflictError, match="concurrent vacuum"):
        snap.create_branch(main, dev, version=1)
    assert snap.registered_branches(main) == []
    assert not os.path.exists(dev)
    # branching at the retained head still works
    assert snap.create_branch(main, dev) == 2


def test_concurrent_probe_serving_vs_gc_threads(spark, tmp_path):
    """Thread race: a reader hammers branch A's pinned view while a GC
    thread runs drop/re-branch/vacuum cycles on sibling branch B. Every
    read must equal the pinned answer; any exception fails the test."""
    main = str(tmp_path / "main")
    a = str(tmp_path / "serve_a")
    b = str(tmp_path / "scratch_b")
    snap.commit(_snap_df(spark, "pin", n=5), main, mode="overwrite")  # v1
    snap.create_branch(main, a)
    snap.create_branch(main, b)
    snap.commit(_snap_df(spark, "head", n=2), main, mode="overwrite")  # v2
    want = _tags(spark, a)
    errors: list[BaseException] = []
    stop = threading.Event()

    def _reader():
        try:
            while not stop.is_set():
                assert _tags(spark, a) == want
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def _gc():
        try:
            for _ in range(5):
                shutil.rmtree(b)
                snap.vacuum(main, retain_from_version=2)
                snap.create_branch(main, b)
                snap.vacuum(main, retain_from_version=2)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
        finally:
            stop.set()

    rt = threading.Thread(target=_reader)
    gt = threading.Thread(target=_gc)
    rt.start(); gt.start()
    gt.join(timeout=300); stop.set(); rt.join(timeout=300)
    assert not errors, errors
    assert _tags(spark, a) == want


@pytest.mark.slow
def test_stream_static_join_against_branch_with_gc_churn(spark, sf_dir, tmp_path):
    """True stream-static serving: readStream events join the BRANCH-
    pinned dim via foreachBatch re-reads while the source advances and
    is vacuumed between micro-batches (GC churn DURING the stream). The
    final accumulated result must equal the registered batch query
    `events_branch_dim_serving_join` — the pinned view never forks."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F811

    from codex_africanus_spark.queries import registry
    from codex_africanus_spark.sources import tpch_ms
    from tests.conftest import await_done

    ev = tpch_ms.events_table(spark, sf_dir)
    users = ev.select("user_id").distinct()
    main = str(tmp_path / "dim")
    serve = str(tmp_path / "dim_serve")
    snap.commit(
        users.select("user_id", (F.col("user_id") % 5).alias("segment")),
        main, mode="overwrite",
    )                                             # v1
    snap.create_branch(main, serve)               # serving pin
    snap.commit(
        users.select(
            "user_id", ((F.col("user_id") * 3 + 1) % 5).alias("segment")
        ),
        main, mode="overwrite",
    )                                             # v2 remap
    src = tmp_path / "ev_src"
    src.mkdir()
    pdf = ev.toPandas().sort_values(["ts_us", "event_id"])
    for i, chunk in enumerate(np.array_split(pdf, 3)):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            src / f"part-{i:03d}.parquet",
        )
    out: list[pd.DataFrame] = []

    def _batch(batch_df, batch_id):
        # GC churn between batches: vacuum the source each trigger —
        # the registry pin must keep v1 alive for the branch read
        snap.vacuum(main, retain_from_version=2)
        pin = snap.read_snapshot(spark, serve).select(
            "user_id", F.col("segment").alias("seg_pinned")
        )
        head = snap.read_snapshot(spark, main).select(
            "user_id", F.col("segment").alias("seg_head")
        )
        out.append(
            batch_df.join(F.broadcast(pin), "user_id")
            .join(F.broadcast(head), "user_id")
            .groupBy("seg_pinned", "seg_head")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .cast("long").alias("val_c_sum"),
            )
            .toPandas()
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    got = (
        pd.concat(out)
        .groupby(["seg_pinned", "seg_head"], as_index=False)
        .sum()
        .sort_values(["seg_pinned", "seg_head"])
        .reset_index(drop=True)
    )
    want = (
        registry()["events_branch_dim_serving_join"].fn(spark, sf_dir)
        .toPandas()
        .sort_values(["seg_pinned", "seg_head"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_dtype=False
    )
