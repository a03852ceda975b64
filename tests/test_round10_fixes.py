"""Round-10 ADVICE fixes, locked.

1. (medium) applyInPandasWithState delivers a key's micro-batch rows as
   MULTIPLE Arrow chunks with no cross-chunk order — the streaming BDA
   kernel must concat + sort ONCE, not per chunk.
   Locked by running the same unordered single-micro-batch input under
   maxRecordsPerBatch=5 (many chunks per key) vs 10000 (one chunk) and
   requiring bit-equality.
2. (low) an open BDA bin whose every weight quantizes to 0 must emit
   nan (numpy closed-bin semantics), not raise ZeroDivisionError and
   kill the query.
3. (low) cosine_topk_probes must NOT self-exclude external probe
   frames by id (exclude_self defaults to False; the corpus-id adapter
   opts in).
"""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from codex_africanus_spark.operators import similarity as sim_op
from codex_africanus_spark.streaming import stateful

from tests.conftest import await_done

VIS_SCHEMA = ("row_id long, time double, antenna1 int, antenna2 int, "
              "u double, v double, w double, vis_re double, vis_im double, "
              "weight double")


def _one_file(src, pdf):
    src.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        src / "part-0000.parquet",
    )


def _with_arrow_chunk(spark, n, fn):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, "10000")
    spark.conf.set(key, str(n))
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def _run_bda(spark, src, ck, qname, **kw):
    stream = (
        spark.readStream.schema(VIS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stateful.streaming_bda(stream, **kw)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    out = spark.sql(f"SELECT * FROM {qname}").toPandas()
    idx = out.groupby(["antenna1", "antenna2", "bin_idx"])["n_rows"].idxmax()
    return (
        out.loc[idx]
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )


def _bda_fixture(n=60):
    rng = np.random.RandomState(3)
    # u drifts so several bins close under tol=50
    return pd.DataFrame({
        "row_id": np.arange(n, dtype=np.int64),
        "time": 1000.0 + 10.0 * np.arange(n),
        "antenna1": np.zeros(n, dtype="int32"),
        "antenna2": np.ones(n, dtype="int32"),
        "u": np.cumsum(rng.uniform(0, 20, n)),
        "v": np.zeros(n), "w": np.zeros(n),
        "vis_re": rng.uniform(-1, 1, n).round(3),
        "vis_im": rng.uniform(-1, 1, n).round(3),
        "weight": np.ones(n),
    })


def test_streaming_bda_multichunk_unordered(spark, tmp_path):
    """Same lock for the BDA state kernel: a sequential binner fed
    per-chunk-sorted (globally unordered) rows bins wrongly; concat +
    one sort on the full tie-break key restores the batch result."""
    pdf = _bda_fixture()
    shuffled = pdf.sample(frac=1.0, random_state=5).reset_index(drop=True)
    src1, src2 = tmp_path / "a", tmp_path / "b"
    _one_file(src1, shuffled)
    _one_file(src2, shuffled)
    ref = _run_bda(spark, src1, tmp_path / "ck_a", "r10bda_one",
                   decorr_tol=50.0)
    got = _with_arrow_chunk(
        spark, 7,
        lambda: _run_bda(spark, src2, tmp_path / "ck_b", "r10bda_many",
                         decorr_tol=50.0),
    )
    assert ref.bin_idx.max() > 3  # several bins actually closed
    pd.testing.assert_frame_equal(ref, got)


def test_streaming_bda_zero_quantized_weight_emits_nan(spark, tmp_path):
    """Weights below 0.5/VG quantize to 0: the open-bin provisional
    emission must yield nan (the numpy closed-bin quotient), not raise
    ZeroDivisionError and kill the query."""
    pdf = _bda_fixture(n=3)
    pdf["weight"] = 1e-9
    src = tmp_path / "z"
    _one_file(src, pdf)
    res = _run_bda(spark, src, tmp_path / "ck_z", "r10bda_zero",
                   decorr_tol=1e9)
    assert len(res) == 1 and not res.iloc[0].closed
    assert res.iloc[0].weight_sum == 0.0
    assert np.isnan(res.iloc[0].vis_re_avg)


def test_cosine_probes_keep_id_collisions(spark):
    """External probe frames: a corpus neighbour whose vec_id equals a
    probe query_id is a legitimate result and must be kept (self-
    exclusion is opt-in, used only by the corpus-id adapter)."""
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(6, dtype=np.int64),
        "embedding": [
            (np.arange(64, dtype=np.float32) % 3) + i for i in range(6)
        ],
    }))
    # probe id 3 collides with corpus vec_id 3, embedding equals vec 3's
    probes = spark.createDataFrame(pd.DataFrame({
        "query_id": np.array([3], dtype=np.int64),
        "embedding": [(np.arange(64, dtype=np.float32) % 3) + 3],
    }))
    out = sim_op.cosine_topk_probes(emb, probes, k=1).toPandas()
    # the identical vector IS the nearest neighbour — must not be dropped
    assert out.iloc[0].neighbor_id == 3
    assert out.iloc[0].cosine_sim == 1.0
    # the adapter still self-excludes (opt-in path)
    adapted = sim_op.cosine_topk(emb, query_modulus=3, k=2).toPandas()
    assert (adapted.query_id != adapted.neighbor_id).all()
