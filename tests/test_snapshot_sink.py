"""Transactional snapshot sink: commit protocol, time travel, conflict
detection, checkpoint replay, vacuum.

Reference analogue: `xds_to_table` write-back under a casacore table lock
(africanus/rime/examples/predict.py:576-586) — here re-expressed as the
optimistic manifest-log protocol a 100 TB lake actually needs.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.sources import snapshot as snap


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "table")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("val")
    )


def test_append_and_overwrite_resolution(spark, root):
    v1 = snap.commit(_df(spark, 0, 10, "a"), root, mode="overwrite")
    v2 = snap.commit(_df(spark, 10, 15, "b"), root, mode="append")
    assert (v1, v2) == (1, 2)
    assert snap.read_snapshot(spark, root).count() == 15
    v3 = snap.commit(_df(spark, 0, 3, "c"), root, mode="overwrite")
    assert v3 == 3
    assert snap.read_snapshot(spark, root).count() == 3
    assert snap.latest_version(root) == 3


def test_time_travel_reads_pinned_versions(spark, root):
    snap.commit(_df(spark, 0, 10, "a"), root, mode="overwrite")
    snap.commit(_df(spark, 10, 15, "b"), root, mode="append")
    snap.commit(_df(spark, 0, 3, "c"), root, mode="overwrite")
    assert snap.read_snapshot(spark, root, version=1).count() == 10
    assert snap.read_snapshot(spark, root, version=2).count() == 15
    tags = {
        r.tag
        for r in snap.read_snapshot(spark, root, version=2)
        .select("tag").distinct().collect()
    }
    assert tags == {"a", "b"}
    with pytest.raises(ValueError):
        snap.snapshot_files(root, 99)


def test_values_roundtrip_exactly(spark, root):
    src = _df(spark, 0, 100, "x")
    snap.commit(src, root, mode="overwrite")
    back = snap.read_snapshot(spark, root)
    assert back.agg(F.sum("val")).first()[0] == src.agg(F.sum("val")).first()[0]
    # parquet read-back relaxes nullability; names+types must survive
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in src.schema
    ]


def test_compare_and_swap_conflict(spark, root):
    snap.commit(_df(spark, 0, 5, "a"), root, mode="overwrite")
    snap.commit(_df(spark, 5, 9, "b"), root, mode="append")
    # writer pinned to a stale head must fail, not clobber
    with pytest.raises(snap.SnapshotConflictError):
        snap.commit(_df(spark, 9, 12, "c"), root, expected_version=1)
    assert snap.latest_version(root) == 2
    # unpinned writer retries onto the real head
    assert snap.commit(_df(spark, 9, 12, "c"), root) == 3


def test_manifest_slot_is_exclusive(spark, root):
    """A manually pre-created manifest slot forces the atomic-link publish
    path to lose; the committer must land on the next free version."""
    snap.commit(_df(spark, 0, 5, "a"), root, mode="overwrite")
    stolen = snap._manifest_path(root, 2)
    stolen.write_text(json.dumps(
        {"version": 2, "action": "append", "files": [], "schema": "{}"}
    ))
    v = snap.commit(_df(spark, 5, 8, "b"), root, mode="append")
    assert v == 3
    assert snap.read_snapshot(spark, root, version=3).count() == 8


def test_checkpoint_bounds_replay(spark, root):
    for i in range(snap.CHECKPOINT_EVERY + 2):
        snap.commit(_df(spark, i, i + 1, f"t{i}"), root, mode="append")
    cp = snap._checkpoint_path(root, snap.CHECKPOINT_EVERY)
    assert cp.exists()
    files_cp = json.loads(cp.read_text())["files"]
    assert files_cp == snap.snapshot_files(root, snap.CHECKPOINT_EVERY)
    # delete pre-checkpoint manifests: replay must still work from the
    # checkpoint for any version >= it
    for v in range(1, snap.CHECKPOINT_EVERY):
        snap._manifest_path(root, v).unlink()
    assert (
        snap.read_snapshot(spark, root).count() == snap.CHECKPOINT_EVERY + 2
    )


def test_vacuum_removes_only_unreachable(spark, root):
    snap.commit(_df(spark, 0, 10, "a"), root, mode="overwrite")
    snap.commit(_df(spark, 10, 20, "b"), root, mode="overwrite")  # orphans v1
    snap.commit(_df(spark, 20, 25, "c"), root, mode="append")
    removed = snap.vacuum(root, retain_from_version=2)
    assert len(removed) == 1  # exactly v1's txn dir
    # retained versions still readable
    assert snap.read_snapshot(spark, root, version=2).count() == 10
    assert snap.read_snapshot(spark, root, version=3).count() == 15
    # vacuumed version is gone on read (files missing)
    with pytest.raises(Exception):
        snap.read_snapshot(spark, root, version=1).count()


def test_partitioned_writes_pass_through(spark, root):
    df = _df(spark, 0, 40, "p").withColumn("bucket", F.col("id") % 4)
    snap.commit(df.repartition("bucket"), root, mode="overwrite")
    back = snap.read_snapshot(spark, root)
    assert back.groupBy("bucket").count().count() == 4
    n_files = len(snap.snapshot_files(root, 1))
    assert n_files >= 1
    data_root = Path(root) / "data"
    assert all(p.suffix == ".parquet" for p in data_root.rglob("*.parquet"))


def test_incremental_reads_append_only(spark, root):
    snap.commit(_df(spark, 0, 10, "a"), root, mode="overwrite")
    snap.commit(_df(spark, 10, 15, "b"), root, mode="append")
    snap.commit(_df(spark, 15, 22, "c"), root, mode="append")
    # consumer resumes after v1: sees exactly v2+v3's rows
    inc = snap.read_changes(spark, root, from_version=1)
    assert inc.count() == 12
    assert {r.tag for r in inc.select("tag").distinct().collect()} == {"b", "c"}
    # empty range -> empty frame with the right schema
    none = snap.read_changes(spark, root, from_version=3)
    assert none.count() == 0 and "tag" in none.columns
    # a range crossing an overwrite must refuse, not double-count
    snap.commit(_df(spark, 0, 2, "d"), root, mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        snap.read_changes(spark, root, from_version=2)


def test_compaction_preserves_data_and_history(spark, root):
    for i in range(5):
        snap.commit(_df(spark, i * 10, (i + 1) * 10, f"t{i}"), root, mode="append")
    files_before = len(snap.snapshot_files(root))
    total_before = snap.read_snapshot(spark, root).agg(F.sum("val")).first()[0]
    v = snap.compact(spark, root, target_partitions=1)
    assert v == 6
    assert len(snap.snapshot_files(root)) < files_before
    assert (
        snap.read_snapshot(spark, root).agg(F.sum("val")).first()[0]
        == total_before
    )
    # pre-compaction version still time-travels
    assert snap.read_snapshot(spark, root, version=3).count() == 30


def test_stats_and_data_skipping(spark, root):
    """Files whose key range cannot match are never opened: verify via
    the file list driving the skipped read (inputFiles)."""
    snap.commit_with_stats(_df(spark, 0, 100, "a").repartitionByRange(4, "id"),
                           root, stats_cols=["id"], mode="overwrite")
    all_files = snap.snapshot_files(root)
    assert len(all_files) == 4
    st = snap._all_stats(root, None)
    assert all("id" in s for s in st.values())
    df = snap.read_snapshot_where(spark, root, "id", 10, 20)
    opened = df.inputFiles()
    assert 0 < len(opened) < len(all_files), opened
    got = sorted(r.id for r in df.collect())
    assert got == list(range(10, 21))


def test_merge_into_prunes_untouched_files(spark, root):
    snap.commit_with_stats(_df(spark, 0, 100, "base").repartitionByRange(4, "id"),
                           root, stats_cols=["id"], mode="overwrite")
    before = set(snap.snapshot_files(root))
    # update ids 5..9 (one range file) + insert ids 200..204
    upd = spark.range(5, 10).select(
        F.col("id"), F.lit("upd").alias("tag"), (F.col("id") * 100).alias("val")
    ).unionByName(
        spark.range(200, 205).select(
            F.col("id"), F.lit("new").alias("tag"), (F.col("id") * 100).alias("val")
        )
    )
    v = snap.merge_into(spark, root, upd, key="id")
    after = set(snap.snapshot_files(root, v))
    carried = before & after
    assert carried, "files outside the key range must be carried, not rewritten"
    m = snap._read_manifest(root, v)
    assert m["merge"]["carried"] == len(carried)
    assert m["merge"]["rewrote"] == len(before) - len(carried)

    cur = snap.read_snapshot(spark, root).toPandas().set_index("id").sort_index()
    assert len(cur) == 105
    assert (cur.loc[5:9].tag == "upd").all()
    assert (cur.loc[5:9].val == [i * 100 for i in range(5, 10)]).all()
    assert (cur.loc[200:204].tag == "new").all()
    assert cur.loc[42].tag == "base"  # untouched row survives
    # pre-merge version still time-travels to the old values
    old = snap.read_snapshot(spark, root, version=1).toPandas().set_index("id")
    assert len(old) == 100 and (old.loc[5:9].tag == "base").all()


def test_merge_stats_survive_for_next_merge(spark, root):
    """Carried files keep their stats; rewritten files get fresh ones —
    a second merge must still prune."""
    snap.commit_with_stats(_df(spark, 0, 100, "a").repartitionByRange(4, "id"),
                           root, stats_cols=["id"], mode="overwrite")
    upd1 = spark.range(0, 3).select(
        F.col("id"), F.lit("u1").alias("tag"), F.col("id").alias("val"))
    v1 = snap.merge_into(spark, root, upd1, key="id")
    st = snap._all_stats(root, v1)
    assert all("id" in s for s in st.values())
    upd2 = spark.range(95, 98).select(
        F.col("id"), F.lit("u2").alias("tag"), F.col("id").alias("val"))
    v2 = snap.merge_into(spark, root, upd2, key="id")
    m = snap._read_manifest(root, v2)
    assert m["merge"]["carried"] > 0
    cur = snap.read_snapshot(spark, root).toPandas().set_index("id")
    assert (cur.loc[95:97].tag == "u2").all() and (cur.loc[0:2].tag == "u1").all()
    assert len(cur) == 100


def test_zorder_skips_on_both_dimensions(spark, root, tmp_path):
    """Z-ordered layout must let BOTH columns' point-range reads skip
    most files; a single-column sort skips on that column only."""
    import pyspark.sql.functions as F2

    n = 1 << 12
    grid = spark.range(n).select(
        (F2.col("id") % 64).alias("x"),
        (F2.col("id") / 64).cast("long").alias("y"),
        F2.col("id").alias("payload"),
    )
    snap.commit_zordered(grid, root, "x", "y", n_files=16, bits=8)
    n_files = len(snap.snapshot_files(root))
    assert n_files > 4

    opened_x = len(snap.read_snapshot_where(spark, root, "x", 3, 4).inputFiles())
    opened_y = len(snap.read_snapshot_where(spark, root, "y", 3, 4).inputFiles())
    assert opened_x < n_files / 2, (opened_x, n_files)
    assert opened_y < n_files / 2, (opened_y, n_files)

    # control: x-sorted layout cannot skip on y
    root2 = str(tmp_path / "xsorted")
    laid = grid.repartitionByRange(16, "x").sortWithinPartitions("x")
    snap.commit_with_stats(laid, root2, stats_cols=["x", "y"], mode="overwrite")
    ctrl_files = len(snap.snapshot_files(root2))
    ctrl_y = len(snap.read_snapshot_where(spark, root2, "y", 3, 4).inputFiles())
    assert ctrl_y >= ctrl_files - 1, (ctrl_y, ctrl_files)  # no y-skipping

    # correctness: same rows either way
    a = snap.read_snapshot_where(spark, root, "y", 3, 4).count()
    b = snap.read_snapshot_where(spark, root2, "y", 3, 4).count()
    assert a == b == 128


def test_zorder_interleave_known_values(spark):
    """zorder(3, 5, bits=3): a=011, b=101 interleave to 011011 = 27."""
    import pyspark.sql.functions as F2

    df = spark.createDataFrame([(3, 5), (0, 0), (7, 7)], "a long, b long")
    out = df.select(snap.zorder_column("a", "b", bits=3).alias("z")).collect()
    def ref(a, b, bits=3):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z
    assert [r.z for r in out] == [ref(3, 5), 0, ref(7, 7)]
    assert ref(3, 5) == 27


def test_additive_schema_evolution(spark, root):
    """An append introducing a new column unions by name; older rows
    read the new column as NULL, and time travel shows each version's
    own schema."""
    snap.commit(_df(spark, 0, 5, "a"), root, mode="overwrite")
    widened = _df(spark, 5, 8, "b").withColumn("score", F.col("id") * 10)
    snap.commit(widened, root, mode="append")
    cur = snap.read_snapshot(spark, root)
    assert "score" in cur.columns
    pdf = cur.toPandas().set_index("id").sort_index()
    assert pdf.loc[0:4].score.isna().all()
    assert list(pdf.loc[5:7].score) == [50, 60, 70]
    # v1 time travel: the old schema, no phantom column
    assert "score" not in snap.read_snapshot(spark, root, version=1).columns


def test_concurrent_committers_all_land(spark, root):
    """8 threads commit simultaneously: the hard-link publish must give
    every writer a distinct version with no lost updates — the optimistic
    protocol under a real race, not a simulated one."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = [_df(spark, i * 10, (i + 1) * 10, f"w{i}") for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(lambda d: snap.commit(d, root, mode="append"), dfs))
    assert sorted(versions) == list(range(1, 9)), versions
    assert snap.latest_version(root) == 8
    final = snap.read_snapshot(spark, root)
    assert final.count() == 80
    tags = {r.tag for r in final.select("tag").distinct().collect()}
    assert tags == {f"w{i}" for i in range(8)}
