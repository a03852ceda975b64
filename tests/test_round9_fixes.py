"""Round-9 ADVICE fixes, locked by tests:

1. ``flagged_channel_interp`` is sign-safe — negative visibility
   components quantize/mean/pack identically in Spark and DuckDB (the
   _VOFF offset space). Previously correct only because testdata vis
   components were non-negative.
2. ``multimodal_av_align_asof``'s frame/window expansion emits nothing
   for a zero-length payload (Spark ``sequence(0,-1)`` is [0,-1]
   DESCENDING while DuckDB ``generate_series(0,-1)`` is empty).
3. ``_tri_pack`` raises in-plan when a vec_id falls outside [0, 1e7)
   instead of silently corrupting the argmax ordering in BOTH engines.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import flagging as flag_op
from codex_africanus_spark.operators import similarity as sim_op

from tests.conftest import fuzz_compare as _compare


def _neg_vis_frame():
    """A (baseline, time, chan) grid with NEGATIVE vis components,
    means that land exactly between quantization cells, and flag
    patterns exercising interp / clamp_left / clamp_right / none."""
    rng = np.random.RandomState(9)
    rows = []
    for a1, a2 in [(0, 1), (0, 2), (1, 2)]:
        for t in (5000.0, 5010.0):
            for chan in range(8):
                for samp in range(1 + (chan % 3)):
                    flagged = chan in (2, 3, 7) or (chan == 0 and a1 == 0)
                    rows.append(
                        (
                            a1, a2, chan, t,
                            bool(flagged),
                            bool(samp == 2 and chan == 5),
                            float(np.round(rng.uniform(-40.0, 40.0), 4)),
                            float(np.round(rng.uniform(-40.0, 40.0), 4)),
                        )
                    )
    # a fully-flagged spectrum -> method='none' rows
    for chan in range(8):
        rows.append((3, 4, chan, 5000.0, True, False, -7.25, -0.5000005))
    return pd.DataFrame(
        rows,
        columns=[
            "antenna1", "antenna2", "chan", "time",
            "flag", "flag_row", "vis_re", "vis_im",
        ],
    )


def test_channel_interp_negative_vis_parity(spark):
    pdf = _neg_vis_frame()
    assert (pdf.vis_re < 0).any() and (pdf.vis_im < 0).any()
    sdf = flag_op.flagged_channel_interp(spark.createDataFrame(pdf)).toPandas()
    con = duckdb.connect()
    con.register("vis_tbl", pdf)
    odf = con.execute(
        "WITH vis AS (SELECT * FROM vis_tbl) " + flag_op.CHANNEL_INTERP_SQL()
    ).df()
    _compare(sdf, odf, "flagged_channel_interp/negative")
    assert len(sdf) > 0
    # the fix is only exercised if some repaired value is negative
    assert (sdf.fill_re_q.dropna() < 0).any() or (sdf.fill_im_q.dropna() < 0).any()


def test_channel_interp_negative_mean_floor_semantics(spark):
    """Two samples averaging to a negative non-integer mean: the cell
    mean must use FLOOR division in both engines (the offset space
    guarantees it), not Spark's truncate-toward-zero."""
    pdf = pd.DataFrame(
        {
            "antenna1": [0, 0, 0, 0],
            "antenna2": [1, 1, 1, 1],
            "chan": [0, 0, 1, 2],
            "time": [100.0] * 4,
            "flag": [False, False, True, False],
            "flag_row": [False] * 4,
            "vis_re": [-1.0, -2.0000001, 5.0, 3.0],  # mean_q = -3000000.5 -> floor
            "vis_im": [-0.0000005, -0.0000005, 1.0, 1.0],
        }
    )
    sdf = flag_op.flagged_channel_interp(spark.createDataFrame(pdf)).toPandas()
    con = duckdb.connect()
    con.register("vis_tbl", pdf)
    odf = con.execute(
        "WITH vis AS (SELECT * FROM vis_tbl) " + flag_op.CHANNEL_INTERP_SQL()
    ).df()
    _compare(sdf, odf, "flagged_channel_interp/floor")


def test_av_align_zero_length_payload_guard():
    """The frames/wins builders filter nb > 0 before the sequence
    explode; sequence(0, nf-1) with nf=0 must be unreachable."""
    import inspect
    from codex_africanus_spark.queries import corpus

    src = inspect.getsource(corpus.multimodal_av_align_asof)
    assert src.count('filter(F.col("nb") > 0)') >= 2


def test_cosine_topk_broadcasts_probe_side(spark):
    """Exact-tier probe contract (r8 verdict item 3): the probe frame is
    explicitly broadcast, so the corpus side streams through a
    BroadcastNestedLoopJoin with the probe subtree as the build side —
    never a shuffle of the fact table, never an unhinted size guess."""
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(250, dtype=np.int64),
                "embedding": [
                    np.arange(64, dtype=np.float32) + i for i in range(250)
                ],
                "label": ["a"] * 250,
            }
        )
    )
    plan = (
        sim_op.cosine_topk(emb, 125, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin BuildRight" in plan, plan[:2000]


def test_cosine_topk_probes_explicit_frame(spark):
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(20, dtype=np.int64),
                "embedding": [
                    (np.arange(64, dtype=np.float32) % 3) + i for i in range(20)
                ],
            }
        )
    )
    probes = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim_op.cosine_topk_probes(emb, probes, k=3).toPandas()
    assert set(out.query_id) == {0, 1}
    assert (out.groupby("query_id")["rank"].max() == 3).all()


def test_tri_pack_out_of_range_raises(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"s9": [1_000_000_000], "cand_id": [10_000_000]})
    )
    out = df.select(
        sim_op._tri_pack(F.col("s9"), F.col("cand_id")).alias("p")
    )
    with pytest.raises(Exception, match="vec_id must be in"):
        out.collect()


def test_tri_pack_in_range_ok(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"s9": [123], "cand_id": [42]})
    )
    (p,) = df.select(
        sim_op._tri_pack(F.col("s9"), F.col("cand_id")).alias("p")
    ).collect()[0]
    assert p == (123 + 1_000_000_000) * 10_000_000 + (10_000_000 - 42)


# ---------------------------------------------------------------------------
# r8 verdict item 6: the residual predicate of read_snapshot_where_all
# reaches the parquet reader, so ROW GROUPS inside surviving files skip
# too (file-level manifest pruning composes with footer-stats pruning).
# ---------------------------------------------------------------------------

def test_snapshot_zorder_row_group_pushdown(spark, tmp_path):
    import pyarrow.parquet as pq
    from codex_africanus_spark.sources import snapshot as snap

    root = str(tmp_path / "zorder_rg")
    n = 60_000
    df = spark.range(n).selectExpr(
        "CAST(id % 250 AS LONG) AS u_cell",
        "CAST((id * 7) % 250 AS LONG) AS v_cell",
        "CAST(id AS DOUBLE) / 100.0 AS val",
    )
    # tiny row groups -> several per file, each Z-narrow in (u, v)
    snap.commit_zordered(
        df, root, "u_cell", "v_cell", n_files=4, row_group_bytes=64 * 1024
    )
    files = snap.snapshot_files(root, None)
    n_groups = {f: pq.ParquetFile(f"{root}/{f}").num_row_groups for f in files}
    assert max(n_groups.values()) > 1, n_groups

    preds = {"u_cell": (40, 60), "v_cell": (40, 60)}
    out = snap.read_snapshot_where_all(spark, root, preds)
    rows = out.collect()

    # correctness: identical to the unpruned filter
    expect = (
        snap.read_snapshot(spark, root)
        .filter("u_cell BETWEEN 40 AND 60 AND v_cell BETWEEN 40 AND 60")
        .count()
    )
    assert len(rows) == expect > 0

    # the residual predicate must be in the parquet scan's PushedFilters
    plan = out._jdf.queryExecution().executedPlan()
    plan_str = plan.toString()
    assert "PushedFilters: [" in plan_str
    assert "GreaterThanOrEqual(u_cell,40)" in plan_str, plan_str[:1500]

    # scan metrics: rows leaving the parquet scan < rows in the files it
    # read (row groups skipped), while >= the final result (the scan
    # emits whole surviving row groups; the Filter node trims the rest)
    leaves = plan.collectLeaves()
    scan_node = leaves.apply(0)
    scan_rows = scan_node.metrics().apply("numOutputRows").value()
    kept_stats = snap._all_stats(root, None)
    kept = [
        f for f, s in kept_stats.items()
        if all(
            c not in s or not (s[c][0] > hi or s[c][1] < lo)
            for c, (lo, hi) in preds.items()
        )
    ]
    file_rows = sum(
        pq.ParquetFile(f"{root}/{f}").metadata.num_rows for f in kept
    )
    assert expect <= scan_rows < file_rows, (expect, scan_rows, file_rows)
