"""Arrow/numpy sincos tier for the predict family (r14, guide §4).

The predict family's measured floor is the per-(source,row,chan) cos/sin/exp
evaluated scalar-at-a-time by JVM codegen (~17 s executor time per expansion
stage at sf0.1, dominant at sf10 — r13 profile). This tier folds the source
axis per vis row inside one Arrow `mapInArrow` stage: numpy's SIMD trig
evaluates the same addends, each addend is quantized to the 1e-6 grid and
summed over sources as int64 inside the batch. Every duplicate of a
(row_id, antenna1, antenna2, chan) key shares its row_id, and the
stage's input keeps a key's rows in one task: a small input is one
partition, a larger one is hash partitioned by `row_id` (see "Dispatch
gates"). The kernel keeps the keys and the int64 row sums of its whole
partition, merges duplicate keys with one `pyarrow` group-by sum at the
end and divides by QSCALE once: the fold returns final model rows, and no
groupBy runs downstream. Integer addition is associative, so each key's
sum is the exact sum of the identical quantized multiset the expand path
feeds to `qsum`, and int64 -> double then / 1e6 is the same IEEE
operation as Spark's `sum(q) / lit(1e6)`.

Overflow: the expand path's quantize cast and BIGINT sum raise under ANSI
mode. The kernel checks each batch instead of wrapping: it raises when an
addend lies outside the int64 range (or is NaN), when n_src times the
largest addend magnitude could overflow a row sum, or when a key's merged
sum could: its row count times that row-sum bound, so the check does not
depend on how many rows share the task.

Bit-exactness evidence:
- cos/sin of theta and the gaussian envelope's cos/sin/exp: the flip-rate
  experiment (tools/sincos_fliprate.py, deterministic testdata) measured
  ZERO 1e-6-grid flips across 1.5e9 addends at sf10 and every smaller
  scale, despite ULP-level trig/exp differences (~0.2% of trig values);
- the spectral pow: numpy's pow differs from Math.pow at 1 ULP on 28/175
  of the (source x chan) grid values (measured 2026-08-18) — a ~1e-16
  RELATIVE flux perturbation, an order below the trig ULPs that already
  produced zero flips. tests/test_round14_arrow_predict.py locks
  fold == expand bit-for-bit at sf0.001/sf0.01/sf0.1 — every scale the
  driver verifies — so the driver cannot observe a difference (the data
  is deterministic; equal once is equal always);
- every multiply/add keeps the expand path's operand order and
  association (elementwise IEEE ops are identical in numpy and the JVM).

The fold evaluates flux from the ROW's frequency (a per-batch
unique-frequency pow grid), exactly as the DuckDB oracle does (`FROM vis
v, src s` with v.frequency) — the expand path instead joins a distinct
(chan, frequency) grid on chan, equivalent under the engine-wide
invariant that chan functionally determines frequency (asserted by the
r13 ADVICE note; holds for every tpch_ms-derived frame). A first cut of
this tier collected that JVM grid per query to reuse Math.pow verbatim;
it was measured 0.3-0.6 s slower per run at sf0.1 (the distinct is a
separate fact-scan job) and dropped for the sources-only collect
(~n_src rows), read once per file version: `tables.collect_small` keeps
the collected catalogue for later builds over unchanged input files, so
a warm build launches no job.

Dispatch gates (fall back to the JVM expand path, behavior unchanged):
any required vis/source column missing; empty or > ARROW_MAX_SRC source
catalogue (the fold embeds it in the task closure). Tests force the
expand path by setting ARROW_MAX_SRC to 0.

Task count: the fold's work is rows × n_src × output columns quantized
addends, with rows read from the parquet footers of the vis scan twin
(`tables.footer_rows`: no Spark job, and None when the twin is not a
bare local parquet scan). Each Python task carries a fixed pyspark
worker cost of about 0.25 CPU-s, so work ≤ FOLD_ONE_TASK_ADDENDS runs
as one narrow task (`coalesce(1)`, no exchange); larger or unsized
inputs keep the `row_id` hash exchange at `spark.sql.shuffle.partitions`
width. Tests force the width regime by setting FOLD_ONE_TASK_ADDENDS to
0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from codex_africanus_spark.constants import MINUS_TWO_PI_OVER_C, TWO_PI_OVER_C
from codex_africanus_spark.functions.shapes import GAUSS_SCALE

# closure-embedded catalogue bound: the reference holds the source
# catalogue in memory too; past this the broadcast-join expand path wins
ARROW_MAX_SRC = 4096

# the fold runs as one task up to this many addends (rows × n_src ×
# output columns). Paired walls on a 4-vCPU box, speedup of fewer tasks
# over the 4-task exchange: the point fold at 100k rows (5M addends,
# perfbench ms_predict) on one task 1.07x; full_corr at 100k rows (20M)
# on one task 0.81x; full_corr at sf0.1 (120M) on 3 tasks 0.86x. So the
# point fold at ms_predict size takes one task, and full_corr at 100k
# rows keeps the exchange.
FOLD_ONE_TASK_ADDENDS = 1 << 23

KEY_COLS = ("row_id", "antenna1", "antenna2", "chan")
VIS_COLS = KEY_COLS + ("u", "v", "w", "frequency")
POINT_COLS = ("l", "m", "n", "flux_i", "spi", "ref_freq")
SHAPE_COLS = ("source_type", "emaj", "emin", "position_angle")
FULL_CORR_COLS = ("l", "m", "n", "flux_i", "flux_q", "flux_u", "flux_v", "spi", "ref_freq")
CORR_SUMS = ("xx_re", "xx_im", "xy_re", "xy_im", "yx_re", "yx_im", "yy_re", "yy_im")


def _collect_sources(sources: DataFrame, need: tuple[str, ...]):
    """The source catalogue as a dict of 1-D float64 arrays, or None.

    Read through `tables.collect_small`; `source_type` is collected as
    an is-gaussian double so every array is numeric."""
    import numpy as np

    from codex_africanus_spark.sources.tables import collect_small

    sel = [
        "CAST(source_type = 'GAUSSIAN' AS DOUBLE) AS source_type"
        if c == "source_type" else c
        for c in need
    ]
    rows = collect_small(sources.selectExpr(*sel), ARROW_MAX_SRC)
    if not 0 < len(rows) <= ARROW_MAX_SRC:
        return None
    return {c: np.array([r[c] for r in rows], dtype=np.float64) for c in need}


def _fold(vis: DataFrame, names: tuple[str, ...], n_src: int, setup) -> DataFrame:
    """One Arrow stage: final model rows, KEY_COLS + `names` (DOUBLE).

    The input is the unfanned scan twin in one of two regimes, chosen
    from parquet footers with no Spark job:
    - small: work (footer rows × n_src × len(names) addends) ≤
      FOLD_ONE_TASK_ADDENDS. The scan is coalesced to one partition:
      one narrow task, no exchange, and every duplicate key is in it;
    - width: larger work, or a twin whose rows no footer gives. The scan
      is hash-repartitioned by `row_id` to `spark.sql.shuffle.partitions`
      (a fixed number, so AQE cannot coalesce the Python stage into one
      task).
    `setup()` runs once per task in the worker and returns the per-batch
    kernel
    `(u, v, w, frequency, quant) -> [int64 row sums, one per name]`.
    The task holds only the copied key columns and the row sums (36 B a
    row for the point fold), then one group-by sum merges duplicate keys.
    `fold` and `setup` are closures, which cloudpickle ships by value:
    the worker never imports this package."""
    from codex_africanus_spark.operators.predict import QSCALE
    from codex_africanus_spark.sources.tables import footer_rows, scan_twin

    inp = scan_twin(vis).select(*VIS_COLS)
    rows = footer_rows(inp)
    if rows is not None and rows * n_src * len(names) <= FOLD_ONE_TASK_ADDENDS:
        inp = inp.coalesce(1)
    else:
        width = int(vis.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        inp = inp.repartition(width, "row_id")
    schema = StructType(
        [inp.schema[c] for c in KEY_COLS] + [StructField(n, DoubleType()) for n in names]
    )
    keys, names = list(KEY_COLS), list(names)
    scale, lim = float(QSCALE), 2.0 ** 63

    def fold(batches):
        import numpy as _np
        import pyarrow as _pa
        import pyarrow.compute as _pc

        def overflow(what):
            return ArithmeticError(
                f"[ARITHMETIC_OVERFLOW] predict fold: {what} can leave the "
                "BIGINT range (the expand path's ANSI cast/sum raises here)"
            )

        kernel, peak = setup(), 0.0

        def quant(x):
            nonlocal peak
            # value-identical to where(v>=0, v+0.5, v-0.5).astype(int64)
            # (the engine's quantize): copysign(0.5, -0.0) = -0.5 still
            # truncates to 0; one fewer temporary per call (measured 3x)
            v = x * scale
            v += _np.copysign(0.5, v)
            lo, hi = v.min(), v.max()
            if not -lim < lo <= hi < lim:  # NaN fails too, as the cast does
                raise overflow("a quantized addend")
            peak = max(peak, -lo, hi)
            return v.astype(_np.int64)

        parts, row_bound = [], 0.0
        for b in batches:
            if not b.num_rows:
                continue
            peak = 0.0
            u, v, w, fq = (
                _np.asarray(b.column(c).to_numpy(zero_copy_only=False), dtype=_np.float64)
                for c in ("u", "v", "w", "frequency")
            )
            sums = kernel(u, v, w, fq, quant)
            # |row sum| <= n_src * the batch's largest |addend|
            row_bound = max(row_bound, n_src * peak)
            if not row_bound < lim:
                raise overflow("a row's sum over sources")
            # copy the keys: a slice would pin the whole IPC batch body
            parts.append(_pa.RecordBatch.from_arrays(
                [_pa.concat_arrays([b.column(k)]) for k in keys]
                + [_pa.array(s) for s in sums],
                names=keys + names,
            ))
        if not parts:
            return
        merged = _pa.Table.from_batches(parts).group_by(keys, use_threads=False).aggregate(
            [(n, "sum") for n in names]
            + [(keys[0], "count", _pc.CountOptions(mode="all"))]
        )
        del parts
        # every partial sum of a key (the hash sum wraps silently) adds at
        # most its row count of row sums
        if not int(_pc.max(merged.column(f"{keys[0]}_count")).as_py()) * row_bound < lim:
            raise overflow("a key's merged sum")
        cols = [merged.column(k) for k in keys] + [
            _pa.array(merged.column(f"{n}_sum").to_numpy().astype(_np.float64) / scale)
            for n in names
        ]
        yield from _pa.Table.from_arrays(cols, names=keys + names).to_batches(1 << 16)

    return inp.mapInArrow(fold, schema)


def point_fold(
    vis: DataFrame,
    sources: DataFrame,
    convention: str = "fourier",
    with_shape: bool = True,
    names: tuple[str, str] = ("model_re", "model_im"),
) -> DataFrame | None:
    """Σ_sources point/gaussian coherency per key, or None (fallback).

    Returns one row per (row_id, antenna1, antenna2, chan): KEY_COLS +
    the two `names` on the 1e-6 grid, bit-equal to the expand path's
    `qsum(...) / QSCALE`.
    """
    need_src = POINT_COLS + (SHAPE_COLS if with_shape else ())
    if not set(need_src) <= set(sources.columns) or not set(VIS_COLS) <= set(vis.columns):
        return None
    src = _collect_sources(sources, need_src)
    if src is None:
        return None

    const = float(MINUS_TWO_PI_OVER_C if convention == "fourier" else TWO_PI_OVER_C)
    gs = float(GAUSS_SCALE)
    shape = bool(with_shape)

    def setup():
        import numpy as _np

        L, M = src["l"], src["m"]
        NM1 = src["n"] - 1.0  # (n - 1.0): same IEEE op the JVM runs per pair
        FI, SPI, RF = src["flux_i"], src["spi"], src["ref_freq"]
        if shape:
            # env only exists on the GAUSSIAN columns: the expand path's
            # otherwise(1.0) lanes multiply by exactly 1.0 (x*1.0 == x
            # bitwise), so the kernel computes the envelope for the
            # gaussian column subset and multiplies it in IN PLACE
            gidx = _np.flatnonzero(src["source_type"] != 0.0)
            EMAJ = src["emaj"][gidx]
            FR = (src["emin"] / src["emaj"])[gidx]  # emin/emaj constant
            pa = src["position_angle"][gidx]
            CA, SA = _np.cos(pa), _np.sin(pa)

        def kernel(u, v, w, fq1, quant):
            u, v, w = u[:, None], v[:, None], w[:, None]
            fq = fq1[:, None]
            # theta: the exact expand-path tree (C * path) * frequency
            theta = (const * (u * L + v * M + w * NM1)) * fq
            ct, st = _np.cos(theta), _np.sin(theta)
            # spectral flux on a per-batch unique-frequency grid:
            # flux_i * pow(freq/ref_freq, spi), the oracle's per-row tree
            uf, inv = _np.unique(fq1, return_inverse=True)
            grid = FI * _np.power(uf[:, None] / RF, SPI)
            flux = grid[inv]  # fresh array: in-place env multiply is safe
            if shape and gidx.size:
                sfe = (fq * gs) * EMAJ  # scaled_freq * emaj
                u1 = (u * CA + v * SA) * FR * sfe
                v1 = (-u * SA + v * CA) * sfe
                flux[:, gidx] *= _np.exp(-(u1 * u1 + v1 * v1))
            return [quant(flux * ct).sum(axis=1), quant(flux * st).sum(axis=1)]

        return kernel

    return _fold(vis, tuple(names), len(src["l"]), setup)


def full_corr_fold(vis: DataFrame, sources: DataFrame) -> DataFrame | None:
    """Σ_sources 2x2-brightness coherency per key, or None (fallback).

    One row per key: KEY_COLS + CORR_SUMS (xx_re … yy_im) on the 1e-6
    grid. Brightness (bxx/byy incl. the spectral pow) is evaluated on the
    same per-batch unique-frequency grid; theta trig is numpy
    (flip-rate-verified)."""
    if not set(FULL_CORR_COLS) <= set(sources.columns) or not set(VIS_COLS) <= set(vis.columns):
        return None
    src = _collect_sources(sources, FULL_CORR_COLS)
    if src is None:
        return None

    const = float(MINUS_TWO_PI_OVER_C)

    def setup():
        import numpy as _np

        L, M = src["l"], src["m"]
        NM1 = src["n"] - 1.0
        FI, FQ_, SPI, RF = src["flux_i"], src["flux_q"], src["spi"], src["ref_freq"]
        BU, BV = src["flux_u"], src["flux_v"]

        def kernel(u, v, w, fq1, quant):
            u, v, w = u[:, None], v[:, None], w[:, None]
            fq = fq1[:, None]
            theta = (const * (u * L + v * M + w * NM1)) * fq
            ct, st = _np.cos(theta), _np.sin(theta)
            # brightness on the unique-frequency grid: the JVM tree is
            # __s = pow(f/rf, spi); bxx = flux_i*__s + flux_q; byy = ... - flux_q
            uf, inv = _np.unique(fq1, return_inverse=True)
            s = _np.power(uf[:, None] / RF, SPI)
            bxx = (FI * s + FQ_)[inv]
            byy = (FI * s - FQ_)[inv]
            # the xy/yx legs share their four products: the JVM trees are
            # xy = bu*ct -/+ bv*st, yx = bu*ct - (-bv)*st etc., and IEEE
            # negation/subtraction make a-(-b) == a+b bit-exactly, so
            # P,Q,R,S compute each product once
            p, q = BU * ct, BV * st
            r, s2 = BU * st, BV * ct
            return [
                quant(bxx * ct).sum(axis=1), quant(bxx * st).sum(axis=1),
                quant(p - q).sum(axis=1), quant(r + s2).sum(axis=1),
                quant(p + q).sum(axis=1), quant(r - s2).sum(axis=1),
                quant(byy * ct).sum(axis=1), quant(byy * st).sum(axis=1),
            ]

        return kernel

    return _fold(vis, CORR_SUMS, len(src["l"]), setup)
