"""The batch salted BDA is the streaming increment on the empty carry.

Default-selection locks for the one salted-BDA path: a zero-weight bin
averages to NULL on every BDA path, a small straddling fuzz frame gives
the sequential scan's bins through the batch operator and through a
two-batch increment drive, and the batch operator and the increment
share no copied code.
"""

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

from codex_africanus_spark.operators import bda as bda_op
from codex_africanus_spark.operators import skew as skew_op
from codex_africanus_spark.streaming import salted as ssalt
from tests.test_salted_bda import SCHEMA, _fuzz_frame
from tests.test_streaming_salted_bda import _salted_final_bins

PACKAGE = Path(__file__).resolve().parent.parent / "codex_africanus_spark"
COLUMNS = [
    "antenna1", "antenna2", "bin_idx", "n_rows", "time_start", "time_end",
    "vis_re_avg", "vis_im_avg", "weight_sum",
]


def _bins(df) -> pd.DataFrame:
    return (
        df.select(*COLUMNS).toPandas()
        .sort_values(["antenna1", "antenna2", "bin_idx"])
        .reset_index(drop=True)
    )


def test_zero_weight_bin_averages_to_null(spark):
    """A bin whose rows all weigh 0 (what flagged rows give) has no
    average: NULL from the batch operator, the increment and the
    sequential scan alike, and no division error under ANSI."""
    n = 12
    u = np.where(np.arange(n) < 6, 0.5 * np.arange(n), 1.0 + 0.5 * np.arange(n))
    pdf = pd.DataFrame({
        "row_id": np.arange(n, dtype=np.int64),
        "time": 10.0 * np.arange(n),
        "antenna1": np.zeros(n, dtype=np.int32),
        "antenna2": np.ones(n, dtype=np.int32),
        "u": u, "v": np.zeros(n), "w": np.zeros(n),
        "vis_re": 1.0 + np.arange(n), "vis_im": -1.0 - np.arange(n),
        "weight": np.where(np.arange(n) < 6, 0.0, 2.0),
    })
    vis = spark.createDataFrame(pdf, SCHEMA)
    tol, span, bucket = 3.0, 900.0, 40.0
    increment, _ = ssalt.salted_bda_increment(
        vis, ssalt.empty_carry(spark), tol, span, bucket
    )
    # collected rows, not pandas: NULL reads None here, NaN reads nan
    want = [
        (0, 1, 0, 6, 0.0, 50.0, None, None, 0.0),
        (0, 1, 1, 6, 60.0, 110.0, 9.5, -9.5, 12.0),
    ]
    for df in (
        skew_op.salted_bda_average(vis, tol, span, bucket),
        increment,
        bda_op.bda_average_quantized(vis, tol, span),
    ):
        assert sorted(tuple(r) for r in df.select(*COLUMNS).collect()) == want


def test_batch_and_split_increment_equal_sequential(spark):
    """Bins straddle buckets (span 900 s, bucket 300 s): the batch
    operator and a two-batch increment drive both give the sequential
    scan's bins, bit for bit."""
    pdf = _fuzz_frame(5, n=200)
    tol, span, bucket = 60.0, 900.0, 300.0
    vis = spark.createDataFrame(pdf, SCHEMA)
    ref = _bins(bda_op.bda_average_quantized(vis, tol, span))
    assert ref.bin_idx.max() > 0
    pd.testing.assert_frame_equal(
        _bins(skew_op.salted_bda_average(vis, tol, span, bucket)), ref
    )
    split = _salted_final_bins(spark, pdf, 2, tol, span, bucket)
    pd.testing.assert_frame_equal(split[COLUMNS], ref, check_dtype=False)


def _code_windows(path: Path, size: int = 8, min_chars: int = 200) -> set:
    """Digests of every `size`-line window of a file's code lines
    (stripped, blank and comment-only lines dropped) that holds at least
    `min_chars` characters."""
    lines = [
        s for s in (ln.strip() for ln in path.read_text().splitlines())
        if s and not s.startswith("#")
    ]
    windows = ("\n".join(lines[i:i + size]) for i in range(len(lines) - size + 1))
    return {
        hashlib.sha256(w.encode()).hexdigest()
        for w in windows if len(w) >= min_chars
    }


def test_batch_and_increment_share_no_code_window():
    """The motion prefix and the Phase B stitch exist once: the batch
    operator's module and the increment's module share no 8-line code
    window."""
    shared = _code_windows(PACKAGE / "operators" / "skew.py") & _code_windows(
        PACKAGE / "streaming" / "salted.py"
    )
    assert not shared, f"{len(shared)} code windows repeat across the two"
