"""Round-14 Arrow shingler locks: the mapInPandas md5-shingle kernels
(operators/dedup._shingle_frame / minhash_signatures) must stay
bit-identical to the JVM codegen chain at every driver-verified scale —
same UTF-8 bytes into the same md5, same first-15-hex integer, same
% 2^31-1, same exact int64 permutation arithmetic, same >=3-token
row-skipping."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.sources.tables import load


def _docs(spark, sf):
    return load(spark, "documents", sf)


def _both(monkeypatch, build):
    # a zero crossover forces the Arrow tier on any file-backed corpus
    # (test corpora sit below the 32 MB default by design); an
    # unreachable one forces the JVM chain
    with monkeypatch.context() as m:
        m.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", 0)
        arrow = build()
        m.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", 1 << 62)
        jvm = build()
    return arrow, jvm


def _plan(df):
    return df._jdf.queryExecution().toString()


def _bitcompare(a_df, b_df, key):
    assert [f.dataType for f in a_df.schema] == [f.dataType for f in b_df.schema]
    a = a_df.toPandas().sort_values(key).reset_index(drop=True)
    b = b_df.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert (av.view(np.int64) == bv.view(np.int64)).all(), c
        else:
            assert (av == bv).all(), c


def test_shingle_frame_matches_jvm(spark, sf_dir, monkeypatch):
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op._shingle_frame(_docs(spark, sf_dir))
    )
    assert "MapInPandas" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_id", "h"])


def test_minhash_signatures_match_jvm(spark, sf_dir, monkeypatch):
    arrow, jvm = _both(
        monkeypatch,
        lambda: dedup_op.minhash_signatures(_docs(spark, sf_dir), keep=("lang",)),
    )
    assert "MapInPandas" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_id"])


def test_lsh_pairs_end_to_end_match(spark, sf_dir, monkeypatch):
    from codex_africanus_spark.queries import registry

    reg = registry()
    arrow, jvm = _both(
        monkeypatch, lambda: reg["minhash_lsh_near_dup_pairs"].fn(spark, sf_dir)
    )
    assert "MapInPandas" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_a", "doc_b"])


def test_shingle_gates(spark, sf_dir, monkeypatch):
    docs = _docs(spark, sf_dir)
    # size-adaptive default: the tiny test corpus stays JVM
    assert "MapInPandas" not in _plan(dedup_op._shingle_frame(docs))
    # an unreachable crossover keeps the pure-JVM plan
    monkeypatch.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", 1 << 62)
    assert "MapInPandas" not in _plan(dedup_op._shingle_frame(docs))
    monkeypatch.setattr(dedup_op, "ARROW_SHINGLE_MIN_BYTES", 0)
    # non-contract frame (doc_id not bigint) falls back even when the
    # size gate is 0
    other = docs.withColumn("doc_id", F.col("doc_id").cast("int"))
    assert "MapInPandas" not in _plan(dedup_op._shingle_frame(other))
    # so does a frame with no file lineage (unknown size)
    mem = spark.range(3).selectExpr("id AS doc_id", "'a b c d' AS text")
    assert "MapInPandas" not in _plan(dedup_op._shingle_frame(mem))
    # a low crossover flips the corpus to the Arrow tier (the sf10 regime)
    assert "MapInPandas" in _plan(dedup_op._shingle_frame(docs))


def test_short_and_null_docs_skip_like_jvm(spark, monkeypatch, tmp_path):
    pdf_rows = [
        (1, "only two"),
        (2, "a b c d"),
        (3, None),
        (4, ""),
        (5, "x y z"),
    ]
    # written out first: the size gate reads the corpus' file lineage
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pdf_rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    arrow, jvm = _both(monkeypatch, lambda: dedup_op._shingle_frame(docs))
    assert "MapInPandas" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_id", "h"])
    assert sorted(
        arrow.select("doc_id").distinct().toPandas()["doc_id"].tolist()
    ) == [2, 5]


@pytest.mark.slow
@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_shingle_matches_jvm_driver_scales(spark, monkeypatch, sf):
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op._shingle_frame(_docs(spark, sf))
    )
    _bitcompare(arrow, jvm, ["doc_id", "h"])
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op.minhash_signatures(_docs(spark, sf))
    )
    _bitcompare(arrow, jvm, ["doc_id"])
