"""Arrow/numpy sincos tier for the predict family (r14, guide §4).

The predict family's measured floor is the per-(source,row,chan) cos/sin/exp
evaluated scalar-at-a-time by JVM codegen (~17 s executor time per expansion
stage at sf0.1, dominant at sf10 — r13 profile). This tier folds the source
axis per vis row inside an Arrow `mapInPandas` batch: numpy's SIMD trig
evaluates the same addends, each addend is quantized to the 1e-6 grid and
summed over sources as int64 *inside the batch*, and the downstream groupBy
merges 1x fact rows of pre-summed BIGINTs instead of n_src x expanded rows.
Integer addition is associative, so the aggregate output is the exact sum of
the identical quantized multiset the expand path feeds to `qsum`.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from codex_africanus_spark.constants import MINUS_TWO_PI_OVER_C, TWO_PI_OVER_C
from codex_africanus_spark.functions.shapes import GAUSS_SCALE

# closure-embedded catalogue bound: the reference holds the source
# catalogue in memory too; past this the broadcast-join expand path wins
ARROW_MAX_SRC = 4096

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


def _fold_schema(vis_sel: DataFrame, sum_names: tuple[str, ...]) -> StructType:
    """Key columns keep their incoming types; sums are BIGINT."""
    fields = [vis_sel.schema[c] for c in KEY_COLS]
    fields += [StructField(n, LongType()) for n in sum_names]
    return StructType(fields)


def _fold_input(vis: DataFrame) -> DataFrame:
    from codex_africanus_spark.sources.tables import fan_out

    return fan_out(vis).select(*VIS_COLS)


def point_fold(
    vis: DataFrame,
    sources: DataFrame,
    convention: str = "fourier",
    with_shape: bool = True,
) -> DataFrame | None:
    """Per-row folded point/gaussian coherency sums, or None (fallback).

    Returns one row per input vis row: KEY_COLS + (q_re, q_im) BIGINT
    partial sums over the source axis. The caller's groupBy(KEY_COLS)
    .sum() then equals the expand path's qsum exactly.
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
    key_cols = list(KEY_COLS)

    def fold(batches):
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

        def quant(x):
            # value-identical to where(v>=0, v+0.5, v-0.5).astype(int64)
            # (the engine's quantize): copysign(0.5, -0.0) = -0.5 still
            # truncates to 0; one fewer temporary per call (measured 3x)
            v = x * 1e6
            v += _np.copysign(0.5, v)
            return v.astype(_np.int64)

        for pdf in batches:
            u = pdf["u"].to_numpy(dtype=_np.float64)[:, None]
            v = pdf["v"].to_numpy(dtype=_np.float64)[:, None]
            w = pdf["w"].to_numpy(dtype=_np.float64)[:, None]
            fq1 = pdf["frequency"].to_numpy(dtype=_np.float64)
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
            out = pdf[key_cols].copy()
            out["q_re"] = quant(flux * ct).sum(axis=1)
            out["q_im"] = quant(flux * st).sum(axis=1)
            yield out

    vis_sel = _fold_input(vis)
    return vis_sel.mapInPandas(fold, _fold_schema(vis_sel, ("q_re", "q_im")))


def full_corr_fold(vis: DataFrame, sources: DataFrame) -> DataFrame | None:
    """Per-row folded 2x2-brightness coherency sums, or None (fallback).

    One row per vis row: KEY_COLS + q_{xx,xy,yx,yy}_{re,im} BIGINT sums.
    Brightness (bxx/byy incl. the spectral pow) is evaluated on the same
    per-batch unique-frequency grid; theta trig is numpy
    (flip-rate-verified)."""
    if not set(FULL_CORR_COLS) <= set(sources.columns) or not set(VIS_COLS) <= set(vis.columns):
        return None
    src = _collect_sources(sources, FULL_CORR_COLS)
    if src is None:
        return None

    const = float(MINUS_TWO_PI_OVER_C)
    key_cols = list(KEY_COLS)

    def fold(batches):
        import numpy as _np

        L, M = src["l"], src["m"]
        NM1 = src["n"] - 1.0
        FI, FQ_, SPI, RF = src["flux_i"], src["flux_q"], src["spi"], src["ref_freq"]
        BU, BV = src["flux_u"], src["flux_v"]

        def quant(x):
            # value-identical to where(v>=0, v+0.5, v-0.5).astype(int64)
            v = x * 1e6
            v += _np.copysign(0.5, v)
            return v.astype(_np.int64)

        for pdf in batches:
            u = pdf["u"].to_numpy(dtype=_np.float64)[:, None]
            v = pdf["v"].to_numpy(dtype=_np.float64)[:, None]
            w = pdf["w"].to_numpy(dtype=_np.float64)[:, None]
            fq1 = pdf["frequency"].to_numpy(dtype=_np.float64)
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
            out = pdf[key_cols].copy()
            out["q_xx_re"] = quant(bxx * ct).sum(axis=1)
            out["q_xx_im"] = quant(bxx * st).sum(axis=1)
            out["q_xy_re"] = quant(p - q).sum(axis=1)
            out["q_xy_im"] = quant(r + s2).sum(axis=1)
            out["q_yx_re"] = quant(p + q).sum(axis=1)
            out["q_yx_im"] = quant(r - s2).sum(axis=1)
            out["q_yy_re"] = quant(byy * ct).sum(axis=1)
            out["q_yy_im"] = quant(byy * st).sum(axis=1)
            yield out

    vis_sel = _fold_input(vis)
    sums = tuple(f"q_{c}" for c in CORR_SUMS)
    return vis_sel.mapInPandas(fold, _fold_schema(vis_sel, sums))
