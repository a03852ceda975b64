"""`sources.tables` is the one reader of the files under a frame: every
size gate, memo key and index fingerprint takes its file list from the
analyzed plan's scan leaves, so none of them optimizes the plan
(`DataFrame.inputFiles` does), and each gives the answer the optimized
listing gave."""

import hashlib
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.operators import predict_arrow
from codex_africanus_spark.sources import tables, tpch_ms
from codex_africanus_spark.sources.tables import load


def _fingerprint_formula(frame: DataFrame) -> str:
    """The digest index metas store, from `inputFiles` and Hadoop's
    `FileStatus`: the reference the fingerprint must keep byte for byte."""
    spark = frame.sparkSession
    hconf = spark._jsc.hadoopConfiguration()
    parts = []
    for f in sorted(frame.inputFiles()):
        p = spark._jvm.org.apache.hadoop.fs.Path(f)
        st = p.getFileSystem(hconf).getFileStatus(p)
        parts.append(f"{f}|{st.getLen()}|{st.getModificationTime()}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


# one frame of each kind the fingerprint call sites pass
FINGERPRINTED = {
    "embeddings": lambda s, d: load(s, "embeddings", d),
    "documents": lambda s, d: load(s, "documents", d),
    "lineitem_projection": lambda s, d: load(s, "lineitem", d).select(
        F.col("l_orderkey").alias("vec_id")),
    "vis": lambda s, d: tpch_ms.vis_table(s, d),
    "vis_projection": lambda s, d: tpch_ms.vis_table(s, d).select(
        F.col("row_id").alias("vec_id")),
}


@pytest.mark.parametrize("kind", sorted(FINGERPRINTED))
def test_source_fingerprint_keeps_the_stored_formula(spark, sf_dir, kind):
    """No call-site frame is partition-pruned, so the analyzed plan's
    file list is the optimized plan's, and the digest is unchanged."""
    frame = FINGERPRINTED[kind](spark, sf_dir)
    assert sorted(tables._plan_files(frame)[0]) == sorted(frame.inputFiles())
    assert tables.source_fingerprint(frame) == _fingerprint_formula(frame)


def test_file_gates_never_optimize_the_plan(spark, sf_dir, monkeypatch):
    """With `DataFrame.inputFiles` raising, every reader of a frame's
    files still decides from the same files."""
    emb = load(spark, "embeddings", sf_dir)
    docs = load(spark, "documents", sf_dir)
    ev = tpch_ms.events_table(spark, sf_dir)
    vis = tpch_ms.vis_table(spark, sf_dir)
    want_fp = _fingerprint_formula(emb)
    docs_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    small = emb.select("vec_id").where("vec_id < 5")
    want_rows = small.collect()

    def no_listing(self):
        raise AssertionError("DataFrame.inputFiles optimizes the plan")

    monkeypatch.setattr(type(emb), "inputFiles", no_listing)
    assert tables.source_fingerprint(emb) == want_fp
    # the shingler's byte gate sums exactly the corpus file's bytes
    monkeypatch.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", docs_bytes)
    assert dedup_op._arrow_shingle_ok(docs)
    monkeypatch.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", docs_bytes + 1)
    assert not dedup_op._arrow_shingle_ok(docs)
    # one single-row-group file fans out; a fanned frame does not again
    twin = tables.scan_twin(vis).select(*predict_arrow.VIS_COLS)
    fanned = tables.fan_out(twin)
    assert fanned is not twin and tables.fan_out(fanned) is fanned
    assert tables.fan_out(vis) is vis
    assert tables.row_groups(ev) == 1
    # the fold gate reads the footers of its bare scan twin
    assert tables.footer_rows(twin) == vis.count()
    assert tables.footer_rows(twin.where("row_id > 0")) is None
    assert tables.collect_small(small, 10) == want_rows
    assert tables.frame_files(small) == tables.frame_files(emb)
