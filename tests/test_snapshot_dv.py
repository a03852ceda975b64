"""Merge-on-read deletion vectors (r13): delete/read parity, stacked
DVs, time travel, append-after-delete, compact-as-PURGE, vacuum
pinning of DV files, overwrite voiding, and the copy-on-write guards
(data-skipping reads, pruned MERGE, branch merges)."""

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.sources import snapshot as snap


def _mk(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3 % 101).alias("val"),
    )


def _rows(df):
    return sorted(map(tuple, df.select("k", "grp", "val").collect()))


def test_delete_read_parity_and_stacking(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    v = snap.commit_deletes(spark, root, "grp = 3")
    assert v == 2
    assert _rows(snap.read_snapshot(spark, root)) == _rows(
        df.filter("grp != 3")
    )
    v = snap.commit_deletes(spark, root, "val > 60")
    assert v == 3
    assert _rows(snap.read_snapshot(spark, root)) == _rows(
        df.filter("grp != 3 AND val <= 60")
    )
    # time travel: pre-delete versions still intact
    assert _rows(snap.read_snapshot(spark, root, version=1)) == _rows(df)
    assert _rows(snap.read_snapshot(spark, root, version=2)) == _rows(
        df.filter("grp != 3")
    )


def test_delete_then_append_scopes_to_old_files(spark, tmp_path):
    """DVs are (file, position) — rows appended AFTER a delete are
    untouched even when they match the deleted predicate."""
    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    snap.commit_deletes(spark, root, "grp = 3")
    late = spark.range(1000, 1010).select(
        F.col("id").alias("k"),
        F.lit(3).cast("long").alias("grp"),
        F.lit(7).cast("long").alias("val"),
    )
    snap.commit(late, root, mode="append")
    got = _rows(snap.read_snapshot(spark, root))
    assert got == _rows(df.filter("grp != 3").unionByName(late))


def test_empty_match_is_noop_and_idempotent_redelete(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit(_mk(spark), root, mode="append")
    head = snap.commit_deletes(spark, root, "grp = 3")
    # re-deleting the same predicate matches nothing (DV-applied view)
    assert snap.commit_deletes(spark, root, "grp = 3") == head
    assert snap.commit_deletes(spark, root, "k < 0") == head
    assert snap.latest_version(root) == head


def test_compact_purges_and_reenables_cow_paths(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    snap.commit_deletes(spark, root, "grp = 3")
    assert snap.snapshot_delete_files(root)
    with pytest.raises(ValueError, match="deletion vectors"):
        snap.read_snapshot_where_all(spark, root, {"k": (0, 10)})
    with pytest.raises(ValueError, match="deletion vectors"):
        snap.merge_into(spark, root, _mk(spark, 5), "k")
    snap.compact(spark, root)
    assert snap.snapshot_delete_files(root) == []
    assert _rows(snap.read_snapshot(spark, root)) == _rows(
        df.filter("grp != 3")
    )
    # CoW paths live again after the purge
    assert snap.read_snapshot_where_all(spark, root, {"k": (0, 10)}).count() > 0


def test_vacuum_pins_dv_files(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    snap.commit_deletes(spark, root, "grp = 3")
    removed = snap.vacuum(root, retain_from_version=2)
    assert removed == []  # v2 needs v1's data AND the DV txn dir
    assert _rows(snap.read_snapshot(spark, root)) == _rows(
        df.filter("grp != 3")
    )


def test_overwrite_voids_dvs(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    snap.commit_deletes(spark, root, "grp = 3")
    snap.commit(df, root, mode="overwrite")
    assert snap.snapshot_delete_files(root) == []
    assert _rows(snap.read_snapshot(spark, root)) == _rows(df)


def test_read_changes_raises_across_delete(spark, tmp_path):
    root = str(tmp_path / "t")
    snap.commit(_mk(spark), root, mode="append")
    snap.commit_deletes(spark, root, "grp = 3")
    with pytest.raises(ValueError, match="append-only"):
        snap.read_changes(spark, root, 0)


def test_merges_refuse_dv_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    branch = str(tmp_path / "b")
    df = _mk(spark)
    snap.commit(df, root, mode="append")
    snap.create_branch(root, branch)
    snap.commit_deletes(spark, branch, "grp = 3")
    with pytest.raises(snap.SnapshotConflictError, match="deletion-vector"):
        snap.merge_ff(branch, root)
    # branch reads still apply its own DVs through the shared pool
    assert _rows(snap.read_snapshot(spark, branch)) == _rows(
        df.filter("grp != 3")
    )
    assert _rows(snap.read_snapshot(spark, root)) == _rows(df)


def test_dv_registered_query_shape(spark, sf_dir):
    """The registered query's three versions reconstruct from the
    defining predicates (the oracle's own rule) at test scale."""
    from codex_africanus_spark.queries import registry
    from codex_africanus_spark.sources.tables import load

    out = registry()["snapshot_dv_merge_on_read"].fn(spark, sf_dir).toPandas()
    li = load(spark, "lineitem", sf_dir).toPandas()
    for v, pred in [
        (2, lambda d: d),
        (3, lambda d: d[d.l_returnflag != "R"]),
        (4, lambda d: d[(d.l_returnflag != "R") & (d.l_quantity <= 30)]),
    ]:
        sub = pred(li)
        got = out[out.version == v]
        assert got.n_rows.sum() == len(sub), v
        assert (
            got.qty_c2.sum() == (sub.l_quantity * 100).round().astype("int64").sum()
        ), v

def test_files_only_checkpoint_not_authoritative_for_dvs(spark, tmp_path):
    """r14 ADVICE-high: a pre-r13 (files-only) checkpoint above a delete
    commit must NOT resolve the DV state as empty — replay skips it and
    keeps scanning down, so deleted rows stay deleted, and the next
    commit's checkpoint bakes the CORRECT resolved set."""
    import json

    root = str(tmp_path / "t")
    df = _mk(spark)
    snap.commit(df, root, mode="append")          # v1
    snap.commit_deletes(spark, root, "grp = 3")   # v2 (delete)
    snap.commit(df.limit(0), root, mode="append") # v3
    dvs_true = snap.snapshot_delete_files(root)
    assert dvs_true, "precondition: the delete produced a DV"
    # simulate an old-format checkpoint at v3: files only, no delete_files
    cp = {"version": 3, "files": snap.snapshot_files(root, 3)}
    snap._checkpoint_path(root, 3).write_text(json.dumps(cp))
    # DV replay must skip the files-only checkpoint
    assert snap.snapshot_delete_files(root) == dvs_true
    assert _rows(snap.read_snapshot(spark, root)) == _rows(df.filter("grp != 3"))
    # and a post-fix checkpoint written above it records the true set
    for _ in range(7):
        snap.commit(df.limit(0), root, mode="append")  # v4..v10 (cp at v10)
    cp10 = json.loads(snap._checkpoint_path(root, 10).read_text())
    assert sorted(cp10["delete_files"]) == sorted(dvs_true)
    assert _rows(snap.read_snapshot(spark, root)) == _rows(df.filter("grp != 3"))
