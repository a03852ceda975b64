"""Calibration operators: corrupt / correct / residual / solve.

Capability parity with /root/reference/africanus/calibration/utils/
(corrupt_vis.py:59-130, correct_vis.py:62-160, residual_vis.py:63-150)
and the phase-only Gauss-Newton solver
/root/reference/africanus/calibration/phase_only/phase_only.py:243-340.

Scalar-gain (DIAG_DIAG) algebra: all Column expressions. The solver is a
driver loop (SURVEY §2.9): each iteration is one join+aggregate producing
the next gains DataFrame — vis stays cached across iterations, gains are
collected (tiny: n_ant × n_chan) and re-broadcast, so the loop never
shuffles the fact table more than the one join per iteration.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.functions.complex_algebra import Cplx
from codex_africanus_spark.sources.tables import local_frame


def correct_vis(corrupted: DataFrame, gains: DataFrame) -> DataFrame:
    """Inverse-gain application  V = G₁⁻¹ · V' · G₂⁻ᴴ  (scalar gains ⇒
    complex division by g₁·g₂*; reference correct_vis.py:62-160)."""
    g1 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna1"), "chan",
            F.col("gain_re").alias("g1_re"), F.col("gain_im").alias("g1_im"),
        )
    )
    g2 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna2"), "chan",
            F.col("gain_re").alias("g2_re"), F.col("gain_im").alias("g2_im"),
        )
    )
    df = corrupted.join(g1, ["antenna1", "chan"]).join(g2, ["antenna2", "chan"])
    v = Cplx(F.col("corrupted_re"), F.col("corrupted_im"))
    denom = Cplx(F.col("g1_re"), F.col("g1_im")) * Cplx(F.col("g2_re"), F.col("g2_im")).conj()
    out = v / denom
    return df.select(
        "row_id", "antenna1", "antenna2", "chan",
        F.round(out.re, 6).alias("corrected_re"),
        F.round(out.im, 6).alias("corrected_im"),
    )


def residual_vis(data: DataFrame, model: DataFrame) -> DataFrame:
    """R = V_data − V_model per (row, chan) (reference residual_vis.py).

    The data side is pre-aggregated on the full (row_id, antenna1,
    antenna2, chan) key with exact fixed-point sums — the source data may
    carry duplicate row keys (and the model side is already reduced), so
    the join must be key-unique on both sides to avoid fan-out."""
    from codex_africanus_spark.functions.deterministic import qsum

    keys = ["row_id", "antenna1", "antenna2", "chan"]
    d = data.groupBy(*keys).agg(
        (qsum(F.col("vis_re"), 10.0) / F.lit(10.0)).alias("d_re"),
        (qsum(F.col("vis_im"), 10.0) / F.lit(10.0)).alias("d_im"),
    )
    m = model.select(
        *keys,
        F.col("model_re").alias("m_re"),
        F.col("model_im").alias("m_im"),
    )
    return d.join(m, keys).select(
        *keys,
        (F.col("d_re") - F.col("m_re")).alias("residual_re"),
        (F.col("d_im") - F.col("m_im")).alias("residual_im"),
    )


def gauss_newton_phase_only(
    vis: DataFrame,
    model: DataFrame,
    n_ant: int,
    maxiter: int = 40,
    tol: float = 1e-8,
    damping: float = 0.7,
) -> list[dict]:
    """Phase-only gain solver (reference phase_only.py:243-340).

    Data model: V_pq = g_p · g_q* · M_pq with g = e^{iφ}. Per iteration,
    for every (antenna, chan) accumulate
      jhr = Σ Im( g_p* · conj(M·g_q*) · (V − ĝ_p ĝ_q* M) )-style gradient
      jhj = Σ |M|²
    over all baselines containing the antenna, then φ ← φ + jhr/jhj.
    Each iteration = two unions + one groupBy on the cached joined frame;
    gains live on the driver (n_ant × n_chan floats) and enter the plan
    as a broadcast literal frame.

    Returns per-iteration convergence stats (driver-side floats).
    """
    spark = vis.sparkSession
    keys = ["row_id", "antenna1", "antenna2", "chan"]
    joined = (
        vis.select(*keys, "vis_re", "vis_im")
        .join(
            model.select(
                *keys,
                F.col("model_re").alias("m_re"),
                F.col("model_im").alias("m_im"),
            ),
            keys,  # full key: row_id alone is not unique in the source data
        )
        .cache()
    )
    n_chan = joined.agg(F.max("chan")).collect()[0][0] + 1
    phases = {(a, c): 0.0 for a in range(n_ant) for c in range(n_chan)}
    history = []

    for it in range(maxiter):
        gdf = F.broadcast(
            local_frame(
                spark,
                [(a, c, math.cos(p), math.sin(p)) for (a, c), p in phases.items()],
                "antenna int, chan int, g_re double, g_im double",
            )
        )
        g1 = gdf.select(
            F.col("antenna").alias("antenna1"), "chan",
            F.col("g_re").alias("g1_re"), F.col("g_im").alias("g1_im"),
        )
        g2 = gdf.select(
            F.col("antenna").alias("antenna2"), "chan",
            F.col("g_re").alias("g2_re"), F.col("g_im").alias("g2_im"),
        )
        j = joined.join(F.broadcast(g1), ["antenna1", "chan"]).join(
            F.broadcast(g2), ["antenna2", "chan"]
        )
        gp = Cplx(F.col("g1_re"), F.col("g1_im"))
        gq = Cplx(F.col("g2_re"), F.col("g2_im"))
        m = Cplx(F.col("m_re"), F.col("m_im"))
        v = Cplx(F.col("vis_re"), F.col("vis_im"))
        pred = gp * m * gq.conj()
        r = v - pred
        # gradient wrt φ_p: Im( conj(g_p · M · g_q*) · r );  wrt φ_q uses conj
        z_p = (pred.conj() * r).im
        z_q = (pred * r.conj()).im  # = -Im(conj(pred)·r) seen from antenna2
        m2 = m.abs2()
        # ONE pass over the cached frame: each row contributes its
        # antenna1 and antenna2 gradient terms via a 2-element explode
        # instead of a two-branch union that re-read the 60M-row cache
        # twice per iteration (r13, guide §2.3 — same addend multiset,
        # exact integer sums ⇒ bit-identical update at every iteration)
        both = j.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("antenna1").alias("antenna"),
                        F.col("chan").alias("chan"),
                        z_p.alias("jhr"), m2.alias("jhj"),
                    ),
                    F.struct(
                        F.col("antenna2").alias("antenna"),
                        F.col("chan").alias("chan"),
                        z_q.alias("jhr"), m2.alias("jhj"),
                    ),
                )
            ).alias("g")
        ).select("g.antenna", "g.chan", "g.jhr", "g.jhj")
        # fixed-point reductions: the per-iteration gradient sums are
        # order-independent, so the whole solve (and its convergence
        # trace) is bit-identical under any partitioning / AQE re-plan
        from codex_africanus_spark.functions.deterministic import qsum

        upd = (
            both.groupBy("antenna", "chan")
            .agg(
                (qsum(F.col("jhr"), 1e9) / F.lit(1e9)).alias("jhr"),
                (qsum(F.col("jhj"), 1e9) / F.lit(1e9)).alias("jhj"),
            )
            .collect()
        )
        max_delta = 0.0
        for row in upd:
            if row.jhj > 0:
                # damped diagonal-GN (StefCal-style relaxation): the full
                # JᵀJ has antenna cross-terms; the damped diagonal update
                # converges linearly at rate ≈ (1 − damping/2)
                delta = damping * row.jhr / row.jhj
                phases[(row.antenna, row.chan)] += delta
                max_delta = max(max_delta, abs(delta))
        history.append({"iteration": it, "max_delta": max_delta})
        if max_delta < tol:
            break

    joined.unpersist()
    history[-1]["phases"] = dict(phases)
    return history


# r14: past this many directions the unrolled per-row fold's codegen
# (n_dir × ~30 expressions) stops being the right trade — fall back to
# the r13 expand-join-aggregate path. 64 is far above any calibration
# direction count in the registry (4) and keeps generated code bounded.
FOLD_MAX_DIRS = 64


def compute_and_corrupt_vis(
    vis: DataFrame,
    src: DataFrame,
    gains: DataFrame,
    scale: float = 1e6,
) -> DataFrame:
    """Fused model evaluation + per-direction corruption (reference
    compute_and_corrupt_vis.py:76-170; DIAG_DIAG jones_mul :14-23):

        V[r,c] = Σ_s  g₁[t,a1,c,s] · (M_s · e^{iθ_s} / n_s) · g₂*[t,a2,c,s]

    Unlike corrupt_vis / apply_gains (where the gain sandwich wraps the
    already-summed model), DDE gains are *direction-dependent*, so the
    sandwich sits INSIDE the source reduction — the join against the
    (time_bin, antenna, chan, source_id)-keyed gains table happens on the
    expanded source×row×chan frame, then the deterministic fixed-point
    sum collapses the source axis. Note the reference's /n factor on the
    model (compute_and_corrupt_vis.py:22 `source_vis = ... / n`), absent
    from plain phase-delay predict.

    Scale: `gains` is bins × n_ant × n_chan × n_dir — broadcast both
    sides of the double equi-join; the only shuffle is the final
    source-collapse groupBy, which AQE-coalesces per partition count.

    `vis` must carry a `time_bin` column (the utime axis analogue,
    utils.py:45-70); `src` needs l, m, n, flux_i, spi, ref_freq and
    `source_id` matching the gains' direction key.

    r14 (guide §2.3/§2.4): the source axis is FOLDED per row instead of
    expanded per row. The gains+src broadcast side is pre-grouped into a
    per-(time_bin, antenna, chan) terms array (plus a source_id→g map for
    the antenna2 leg), each vis row joins TWO array rows (vs n_dir×2
    probe hits on the expanded frame), and the Σ_s reduction runs as
    n_dir unrolled codegen expressions summing the same quantized BIGINTs
    the r13 groupBy summed — identical integer multiset, associative, so
    bit-identical output. The residual groupBy only merges duplicate
    (row_id, …) keys, so its input is 1× the fact rows, not n_dir×.
    Paired one-process A/B at sf10 (/tmp/sf10, interleaved min-of-2):
    expand 65.5 s → fold 16.6 s (~3.9×); a lambda-HOF fold was also
    measured and REJECTED (114.5 s — `aggregate()` is CodegenFallback,
    interpreted per element at fact-table volume).
    """
    from codex_africanus_spark.sources.tables import collect_small

    # tiny catalogue by contract (reference holds it in memory too), read
    # once per file version; bounds the unrolled codegen below
    n_dir = len(collect_small(src.select("source_id"), FOLD_MAX_DIRS))
    if n_dir == 0 or n_dir > FOLD_MAX_DIRS:
        return _cc_vis_expand(vis, src, gains, scale)
    return _cc_vis_folded(vis, src, gains, scale, n_dir)


def _cc_vis_folded(
    vis: DataFrame, src: DataFrame, gains: DataFrame, scale: float, n_dir: int
) -> DataFrame:
    """Per-row source fold (see compute_and_corrupt_vis docstring)."""
    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
    from codex_africanus_spark.sources.tables import scan_twin

    chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
    src_chan = (
        src.crossJoin(chan_freq)
        .withColumn(
            "flux",
            F.col("flux_i")
            * F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi"))
            / F.col("n"),
        )
        .select("chan", "source_id", "l", "m", "n", "flux")
    )
    # ONE grouped broadcast side keyed (time_bin, antenna, chan): the
    # sorted terms array serves the antenna1 leg (source attrs + g1), the
    # source_id→g map serves the antenna2 leg (alignment by key, not by
    # position, so a sparse gains table cannot silently mispair)
    comb = (
        gains.join(F.broadcast(src_chan), ["chan", "source_id"])
        .groupBy("time_bin", "antenna", "chan")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "source_id", "l", "m", "n", "flux",
                        F.col("g_re").alias("g1_re"),
                        F.col("g_im").alias("g1_im"),
                    )
                )
            ).alias("terms"),
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        "source_id",
                        F.struct(
                            F.col("g_re").alias("g2_re"),
                            F.col("g_im").alias("g2_im"),
                        ),
                    )
                )
            ).alias("g2map"),
        )
    )
    # both legs broadcast the SAME subtree (renames happen in the join
    # condition, not below the exchange) so the canonicalized broadcast
    # is built once and the second leg is a ReusedExchange
    b1 = F.broadcast(comb.alias("cc_b1"))
    b2 = F.broadcast(comb.alias("cc_b2"))
    j1 = vis.join(
        b1,
        (vis["time_bin"] == F.col("cc_b1.time_bin"))
        & (vis["antenna1"] == F.col("cc_b1.antenna"))
        & (vis["chan"] == F.col("cc_b1.chan")),
    ).select(vis["*"], F.col("cc_b1.terms").alias("terms"))
    joined = j1.join(
        b2,
        (j1["time_bin"] == F.col("cc_b2.time_bin"))
        & (j1["antenna2"] == F.col("cc_b2.antenna"))
        & (j1["chan"] == F.col("cc_b2.chan")),
    ).select(j1["*"], F.col("cc_b2.g2map").alias("g2map"))
    # staged projections (see predict._fold_sums): P1 evaluates each
    # term's doubles ONCE (quantize references its operand twice, so
    # quantizing the full expression inline would double every trig
    # subtree — the predict-family fold measured 4-6× slower that way);
    # P2 quantizes and sums cheap attributes. CollapseProject keeps them
    # separate because inlining would duplicate non-cheap expressions.
    keys = ["row_id", "antenna1", "antenna2", "time_bin", "chan"]
    p1_cols = []
    for i in range(n_dir):
        e = F.get(F.col("terms"), i)
        g2 = F.try_element_at(F.col("g2map"), e["source_id"])
        # identical expression tree to the expand path: flux precomputed
        # on the broadcast side, θ from the vis row's u,v,w,frequency
        theta = phase_delay_angle(
            phase_path(F.col("u"), F.col("v"), F.col("w"),
                       e["l"], e["m"], e["n"]),
            F.col("frequency"), "fourier",
        )
        sv_re = e["flux"] * F.cos(theta)
        sv_im = e["flux"] * F.sin(theta)
        t_re = e["g1_re"] * sv_re - e["g1_im"] * sv_im
        t_im = e["g1_re"] * sv_im + e["g1_im"] * sv_re
        out_re = t_re * g2["g2_re"] + t_im * g2["g2_im"]
        out_im = t_im * g2["g2_re"] - t_re * g2["g2_im"]
        p1_cols += [out_re.alias(f"__t{i}_re"), out_im.alias(f"__t{i}_im")]
    p1 = joined.select(*keys, *p1_cols)
    zero = F.lit(0).cast("long")
    sum_re, sum_im = zero, zero
    for i in range(n_dir):
        # a direction absent from either leg contributes nothing — the
        # same 0 its absent row contributed to the expand path's sum
        sum_re = sum_re + F.coalesce(quantize(F.col(f"__t{i}_re"), scale), zero)
        sum_im = sum_im + F.coalesce(quantize(F.col(f"__t{i}_im"), scale), zero)
    return (
        p1.select(
            *keys,
            sum_re.alias("qre"), sum_im.alias("qim"),
        )
        .groupBy("row_id", "antenna1", "antenna2", "time_bin", "chan")
        .agg(
            (F.sum("qre") / F.lit(scale)).alias("cc_re"),
            (F.sum("qim") / F.lit(scale)).alias("cc_im"),
        )
    )


def _cc_vis_expand(
    vis: DataFrame, src: DataFrame, gains: DataFrame, scale: float
) -> DataFrame:
    """r13 expand-join-aggregate path — the FOLD_MAX_DIRS fallback."""
    from codex_africanus_spark.functions.deterministic import qsum
    from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
    from codex_africanus_spark.sources.tables import scan_twin

    # r13 measured-and-kept-as-is: a beam_dde-style g1xg2 pair-table fold
    # (one probe per pair instead of two) was tried and MEASURED SLOWER
    # at sf10 (53.0 -> 62.3 s): the folded relation is n_ant x larger
    # (491k rows / ~35 MB vs two 70k-row / ~5 MB sides), so every probe
    # became a cache miss while the two small relations stayed
    # cache-resident. Two separate broadcast probes are the right shape
    # for bins-scaled gains; the (source, chan) flux hoist below is the
    # win that stayed.
    g1 = F.broadcast(
        gains.select(
            "time_bin", F.col("antenna").alias("antenna1"), "chan", "source_id",
            F.col("g_re").alias("g1_re"), F.col("g_im").alias("g1_im"),
        )
    )
    g2 = F.broadcast(
        gains.select(
            "time_bin", F.col("antenna").alias("antenna2"), "chan", "source_id",
            F.col("g_re").alias("g2_re"), F.col("g_im").alias("g2_im"),
        )
    )
    theta = phase_delay_angle(
        phase_path(F.col("u"), F.col("v"), F.col("w"),
                   F.col("l"), F.col("m"), F.col("n")),
        F.col("frequency"), "fourier",
    )
    # r13 (guide §1.2 per-task work): flux depends only on (source,
    # chan) — hoist the pow() to the broadcast side (n_src × n_chan
    # rows) instead of evaluating one POWER per source×row pair, the
    # same loop-invariant hoist predict's source_coherency already does.
    # The expression tree is unchanged (flux fully evaluated, then
    # multiplied by cos/sin), so every term is the identical double; the
    # cross join on chan yields the identical pair multiset because
    # frequency is functionally determined by chan.
    chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
    src_chan = F.broadcast(
        src.crossJoin(chan_freq)
        .withColumn(
            "flux",
            F.col("flux_i")
            * F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi"))
            / F.col("n"),
        )
        .drop("frequency")
    )
    flux = F.col("flux")
    expanded = (
        vis.join(src_chan, "chan")
        .join(g1, ["time_bin", "antenna1", "chan", "source_id"])
        .join(g2, ["time_bin", "antenna2", "chan", "source_id"])
        .withColumn("sv_re", flux * F.cos(theta))
        .withColumn("sv_im", flux * F.sin(theta))
    )
    # g1 · sv · conj(g2), expanded so the oracle SQL mirrors it literally
    t_re = F.col("g1_re") * F.col("sv_re") - F.col("g1_im") * F.col("sv_im")
    t_im = F.col("g1_re") * F.col("sv_im") + F.col("g1_im") * F.col("sv_re")
    out_re = t_re * F.col("g2_re") + t_im * F.col("g2_im")
    out_im = t_im * F.col("g2_re") - t_re * F.col("g2_im")
    return (
        expanded.select(
            "row_id", "antenna1", "antenna2", "time_bin", "chan",
            out_re.alias("term_re"), out_im.alias("term_im"),
        )
        .groupBy("row_id", "antenna1", "antenna2", "time_bin", "chan")
        .agg(
            (qsum(F.col("term_re"), scale) / F.lit(scale)).alias("cc_re"),
            (qsum(F.col("term_im"), scale) / F.lit(scale)).alias("cc_im"),
        )
    )


def closure_phases(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """Closure phases over antenna triangles — arg(V_ab) + arg(V_bc)
    − arg(V_ac) for every a<b<c — the calibration-independent quantity
    interferometry diagnostics are built on (antenna-based gain phases
    cancel on the triangle; see e.g. TMS ch.10; the reference's
    phase-only solver exploits the same antenna decomposition,
    phase_only.py:243-340).

    Shape: one groupBy collapses rows to (time-bin, baseline) exact
    fixed-point vis sums — O(#bins·#baselines), tiny relative to the
    fact table at any scale — then a TRIPLE self-join on the time bin
    stitches the a-b, b-c, a-c legs. Per-leg phases are 1e-9-quantized
    before the closure sum, so the triangle sum is an exact integer
    combination in both engines; atan2 operands are the exact BIGINT
    sums cast to double (no intermediate division)."""
    from codex_africanus_spark.functions.deterministic import qsum, quantize

    chan0 = vis.filter(F.col("chan") == 0)
    base = (
        chan0.withColumn(
            "tbin", F.floor(F.col("time") / F.lit(bin_secs)).cast("long")
        )
        .filter(F.col("antenna1") < F.col("antenna2"))
        .groupBy("tbin", "antenna1", "antenna2")
        .agg(
            qsum(F.col("vis_re"), 1e6).alias("re_q"),
            qsum(F.col("vis_im"), 1e6).alias("im_q"),
        )
    )
    # sign-aware half-away quantization (quantize), NOT F.round: phases
    # are signed and Spark ROUND is HALF_UP where DuckDB is half-away
    ph_q = quantize(
        F.atan2(F.col("im_q").cast("double"), F.col("re_q").cast("double")), 1e9
    )
    legs = base.select("tbin", "antenna1", "antenna2", ph_q.alias("ph_q"))
    ab = legs.select(
        "tbin", F.col("antenna1").alias("a"), F.col("antenna2").alias("b"),
        F.col("ph_q").alias("ph_ab"),
    )
    bc = legs.select(
        "tbin", F.col("antenna1").alias("b"), F.col("antenna2").alias("c"),
        F.col("ph_q").alias("ph_bc"),
    )
    ac = legs.select(
        "tbin", F.col("antenna1").alias("a"), F.col("antenna2").alias("c"),
        F.col("ph_q").alias("ph_ac"),
    )
    tri = ab.join(bc, ["tbin", "b"]).join(ac, ["tbin", "a", "c"])
    return tri.select(
        "tbin", "a", "b", "c",
        ((F.col("ph_ab") + F.col("ph_bc") - F.col("ph_ac")) / F.lit(1e9)).alias(
            "closure_rad"
        ),
    )


CLOSURE_PHASES_SQL = """
    , base AS (
      SELECT CAST(FLOOR(time / 2592000.0) AS BIGINT) AS tbin,
             antenna1, antenna2,
             SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS re_q,
             SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS im_q
      FROM vis
      WHERE chan = 0 AND antenna1 < antenna2
      GROUP BY 1, 2, 3
    ),
    legs AS (
      SELECT tbin, antenna1, antenna2,
             CAST(ROUND(atan2(CAST(im_q AS DOUBLE), CAST(re_q AS DOUBLE))
                        * 1000000000.0) AS BIGINT) AS ph_q
      FROM base
    )
    SELECT ab.tbin AS tbin, ab.antenna1 AS a, ab.antenna2 AS b, bc.antenna2 AS c,
           (ab.ph_q + bc.ph_q - ac.ph_q) / 1000000000.0 AS closure_rad
    FROM legs ab
    JOIN legs bc ON bc.tbin = ab.tbin AND bc.antenna1 = ab.antenna2
    JOIN legs ac ON ac.tbin = ab.tbin AND ac.antenna1 = ab.antenna1
                AND ac.antenna2 = bc.antenna2
    ORDER BY tbin, a, b, c
"""


def fit_delay_slope(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """Per-(baseline, time-bin) delay fit — the K-Jones diagnostic: the
    least-squares slope of visibility phase against channel index (a
    residual delay shows as a linear phase ramp across the band; cf. the
    reference's phase-only solver operating per-antenna,
    phase_only.py:243-340 — this is its baseline-resolved precursor).

    Two chained aggregations, no joins: (1) collapse rows to exact
    fixed-point vis sums per (time-bin, baseline, chan) and take the
    1e-9-quantized phase; (2) closed-form regression over the ≤n_chan
    points per baseline from five INTEGER sums (n, Σx, Σx², Σy, Σxy with
    x = chan index, y = quantized phase) — the slope/intercept are
    single divisions of exact integers, bit-identical in any engine.
    Phases near ±π can wrap between channels; the fit is over the
    principal-value phases on both engines identically (a production
    K-solver would unwrap — deterministic here by construction)."""
    from codex_africanus_spark.functions.deterministic import qsum, quantize

    per_chan = (
        vis.withColumn(
            "tbin", F.floor(F.col("time") / F.lit(bin_secs)).cast("long")
        )
        .groupBy("tbin", "antenna1", "antenna2", "chan")
        .agg(
            qsum(F.col("vis_re"), 1e6).alias("re_q"),
            qsum(F.col("vis_im"), 1e6).alias("im_q"),
        )
        .select(
            "tbin", "antenna1", "antenna2",
            F.col("chan").cast("long").alias("x"),
            quantize(
                F.atan2(F.col("im_q").cast("double"), F.col("re_q").cast("double")),
                1e9,
            ).alias("y_q"),
        )
    )
    g = per_chan.groupBy("tbin", "antenna1", "antenna2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y_q").alias("sy"),
        F.sum(F.col("x") * F.col("y_q")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den / F.lit(1e9)
    intercept = (
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / den / F.lit(1e9)
    )
    return g.filter(den != 0).select(
        "tbin", "antenna1", "antenna2",
        F.col("n").alias("n_chan"),
        # no rounding: both outputs are divisions of exact integers —
        # already bit-identical cross-engine; ROUND would reintroduce the
        # half-up/half-away boundary divergence on signed values
        slope.alias("phase_slope_rad_per_chan"),
        intercept.alias("phase_intercept_rad"),
    )


DELAY_FIT_SQL = """
    , per_chan AS (
      SELECT CAST(FLOOR(time / 2592000.0) AS BIGINT) AS tbin,
             antenna1, antenna2, CAST(chan AS BIGINT) AS x,
             CAST(ROUND(atan2(
               CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS DOUBLE),
               CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS y_q
      FROM vis
      GROUP BY 1, 2, 3, 4
    ),
    fit AS (
      SELECT tbin, antenna1, antenna2,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y_q) AS BIGINT) AS sy,
             CAST(SUM(x * y_q) AS BIGINT) AS sxy
      FROM per_chan
      GROUP BY 1, 2, 3
    )
    SELECT tbin, antenna1, antenna2,
           CAST(n AS BIGINT) AS n_chan,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) / 1000000000.0
             AS phase_slope_rad_per_chan,
           (sy * sxx - sx * sxy) / (n * sxx - sx * sx) / 1000000000.0
             AS phase_intercept_rad
    FROM fit
    WHERE (n * sxx - sx * sx) <> 0
    ORDER BY tbin, antenna1, antenna2
"""


def uvlin_continuum_subtract(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """UV-plane continuum subtraction (the classic `uvlin`): per
    (baseline, time-bin), least-squares-fit visibility real and
    imaginary parts linearly against channel index and subtract the fit
    — what remains is the spectral-line signal. The fit coefficients
    come from the same five-integer-sum closed form as fit_delay_slope;
    the per-sample residual is the raw value minus the exact-rational
    fit evaluated at the sample's channel.

    Shape: one collapse aggregation to per-(bin, baseline, chan) exact
    fixed-point means, one fit aggregation at diagnostic cardinality,
    then the tiny fit table joins back to the per-chan frame (broadcast
    — O(#bins·#baselines) rows at any scale). Residuals are exact
    integer-ratio arithmetic; no ROUND crosses the engine boundary."""
    from codex_africanus_spark.functions.deterministic import qsum, quantize

    per_chan = (
        vis.withColumn(
            "tbin", F.floor(F.col("time") / F.lit(bin_secs)).cast("long")
        )
        .groupBy("tbin", "antenna1", "antenna2", "chan")
        .agg(
            F.count(F.lit(1)).alias("n_samp"),
            qsum(F.col("vis_re"), 1e6).alias("re_q"),
            qsum(F.col("vis_im"), 1e6).alias("im_q"),
        )
        .select(
            "tbin", "antenna1", "antenna2",
            F.col("chan").cast("long").alias("x"),
            "n_samp",
            # per-chan MEAN re-quantized to INTEGER micro-units before
            # the fit aggregation (quantize-before-aggregate: a float
            # mean summed by the fit agg would be partition-order
            # dependent at the ULP level)
            quantize(F.col("re_q") / F.col("n_samp"), 1.0).alias("re_mean"),
            quantize(F.col("im_q") / F.col("n_samp"), 1.0).alias("im_mean"),
        )
    )
    # consumed by the fit subtree AND as the join probe side —
    # materialize instead of re-running the full-scan collapse twice
    per_chan = per_chan.localCheckpoint(eager=True)  # GC-scoped (r8)
    fit = per_chan.groupBy("tbin", "antenna1", "antenna2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("re_mean").alias("syr"),
        F.sum(F.col("x") * F.col("re_mean")).alias("sxyr"),
        F.sum("im_mean").alias("syi"),
        F.sum(F.col("x") * F.col("im_mean")).alias("sxyi"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fitted = fit.filter(den != 0).select(
        "tbin", "antenna1", "antenna2",
        ((F.col("n") * F.col("sxyr") - F.col("sx") * F.col("syr")) / den).alias("br"),
        ((F.col("syr") * F.col("sxx") - F.col("sx") * F.col("sxyr")) / den).alias("ar"),
        ((F.col("n") * F.col("sxyi") - F.col("sx") * F.col("syi")) / den).alias("bi"),
        ((F.col("syi") * F.col("sxx") - F.col("sx") * F.col("sxyi")) / den).alias("ai"),
    )
    out = per_chan.join(F.broadcast(fitted), ["tbin", "antenna1", "antenna2"])
    return out.select(
        "tbin", "antenna1", "antenna2",
        F.col("x").alias("chan"),
        "n_samp",
        ((F.col("re_mean") - (F.col("ar") + F.col("br") * F.col("x"))) / F.lit(1e6))
        .alias("line_re"),
        ((F.col("im_mean") - (F.col("ai") + F.col("bi") * F.col("x"))) / F.lit(1e6))
        .alias("line_im"),
    )


def UVLIN_SQL(bin_secs: float = 2_592_000.0) -> str:
    """DuckDB mirror of uvlin_continuum_subtract, parameterized by the
    SAME bin width so a non-default call cannot desync the engines."""
    return f"""
    , per_chan AS (
      SELECT CAST(FLOOR(time / {bin_secs!r}) AS BIGINT) AS tbin,
             antenna1, antenna2, CAST(chan AS BIGINT) AS x,
             COUNT(*) AS n_samp,
             CAST(ROUND((CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT))
               AS BIGINT) / COUNT(*)) * 1.0) AS BIGINT) AS re_mean,
             CAST(ROUND((CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT))
               AS BIGINT) / COUNT(*)) * 1.0) AS BIGINT) AS im_mean
      FROM vis
      GROUP BY 1, 2, 3, 4
    ),
    fit AS (
      SELECT tbin, antenna1, antenna2,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(re_mean) AS BIGINT) AS syr,
             CAST(SUM(x * re_mean) AS BIGINT) AS sxyr,
             CAST(SUM(im_mean) AS BIGINT) AS syi,
             CAST(SUM(x * im_mean) AS BIGINT) AS sxyi
      FROM per_chan
      GROUP BY 1, 2, 3
    ),
    fitted AS (
      SELECT tbin, antenna1, antenna2,
             (n * sxyr - sx * syr) / (n * sxx - sx * sx) AS br,
             (syr * sxx - sx * sxyr) / (n * sxx - sx * sx) AS ar,
             (n * sxyi - sx * syi) / (n * sxx - sx * sx) AS bi,
             (syi * sxx - sx * sxyi) / (n * sxx - sx * sx) AS ai
      FROM fit
      WHERE (n * sxx - sx * sx) <> 0
    )
    SELECT p.tbin AS tbin, p.antenna1 AS antenna1, p.antenna2 AS antenna2,
           p.x AS chan, p.n_samp AS n_samp,
           (p.re_mean - (f.ar + f.br * p.x)) / 1000000.0 AS line_re,
           (p.im_mean - (f.ai + f.bi * p.x)) / 1000000.0 AS line_im
    FROM per_chan p
    JOIN fitted f ON f.tbin = p.tbin AND f.antenna1 = p.antenna1
                 AND f.antenna2 = p.antenna2
    ORDER BY tbin, antenna1, antenna2, chan
"""


RFI_K2 = 9  # flag |z| > 3: d² > K²·(nQ − S²)


def rfi_zscore_report(
    vis: DataFrame, k2: int = RFI_K2, bin_secs: float = 2_592_000.0
) -> DataFrame:
    """Amplitude-outlier RFI detector (aoflagger-style first pass):
    within each (baseline, chan, time-bin) population, flag samples
    whose |z| exceeds √k2 — decided ENTIRELY in exact integers
    (d² > k2·(nQ−S²) with d = amp_q·n − S). The quadratic terms are
    computed in 128-bit integer space (Spark DECIMAL(38,0) ↔ DuckDB
    HUGEINT), so the decision neither overflows nor desyncs even when
    per-bin populations reach millions of samples; d² stays within
    10³⁸ for any n·amp_q < 10¹⁹. Two aggregations + one co-partitioned
    stats join; output is the per-baseline RFI occupancy report."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    samp = vis.select(
        F.floor(F.col("time") / F.lit(bin_secs)).cast("long").alias("tbin"),
        "antenna1", "antenna2", "chan", "row_id",
        quantize(
            F.sqrt(
                F.col("vis_re") * F.col("vis_re")
                + F.col("vis_im") * F.col("vis_im")
            ),
            1e3,
        ).alias("amp_q"),
    )
    stats = samp.groupBy("tbin", "antenna1", "antenna2", "chan").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("amp_q").cast(dec)).alias("s"),
        # cast ONE factor before the multiply (mirrors the SQL twin's
        # HUGEINT cast): amp_q*amp_q in LongType overflows int64 once
        # amp_q exceeds ~3.04e9 — the product must form in decimal
        F.sum(F.col("amp_q").cast(dec) * F.col("amp_q")).alias("q"),
    )
    j = samp.join(stats, ["tbin", "antenna1", "antenna2", "chan"])
    d = F.col("amp_q").cast(dec) * F.col("n").cast(dec) - F.col("s")
    rhs = F.lit(k2).cast(dec) * (
        F.col("n").cast(dec) * F.col("q") - F.col("s") * F.col("s")
    )
    rfi = F.when((F.col("n") > 1) & (d * d > rhs), 1).otherwise(0)
    return (
        j.select("antenna1", "antenna2", rfi.alias("rfi"))
        .groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("rfi").alias("n_rfi_flagged"),
            ((F.sum("rfi") * 1000000) / F.count(F.lit(1))).alias("rfi_ppm"),
        )
        .orderBy("antenna1", "antenna2")
    )


def RFI_SQL(k2: int = RFI_K2, bin_secs: float = 2_592_000.0) -> str:
    """DuckDB mirror of rfi_zscore_report — the decision arithmetic in
    HUGEINT matches Spark's DECIMAL(38,0) exactly on these integers."""
    return f"""
    , samp AS (
      SELECT CAST(FLOOR(time / {bin_secs!r}) AS BIGINT) AS tbin,
             antenna1, antenna2, chan, row_id,
             CAST(ROUND(sqrt(vis_re * vis_re + vis_im * vis_im) * 1000.0)
                  AS BIGINT) AS amp_q
      FROM vis
    ),
    stats AS (
      SELECT tbin, antenna1, antenna2, chan,
             COUNT(*) AS n,
             SUM(CAST(amp_q AS HUGEINT)) AS s,
             SUM(CAST(amp_q AS HUGEINT) * amp_q) AS q
      FROM samp GROUP BY 1, 2, 3, 4
    ),
    flagged AS (
      SELECT p.antenna1 AS antenna1, p.antenna2 AS antenna2,
             CASE WHEN t.n > 1 AND
                  (CAST(p.amp_q AS HUGEINT) * t.n - t.s)
                    * (CAST(p.amp_q AS HUGEINT) * t.n - t.s)
                    > {k2} * (t.n * t.q - t.s * t.s)
                  THEN 1 ELSE 0 END AS rfi
      FROM samp p
      JOIN stats t ON t.tbin = p.tbin AND t.antenna1 = p.antenna1
                  AND t.antenna2 = p.antenna2 AND t.chan = p.chan
    )
    SELECT antenna1, antenna2,
           COUNT(*) AS n_samples,
           CAST(SUM(rfi) AS BIGINT) AS n_rfi_flagged,
           (CAST(SUM(rfi) AS BIGINT) * 1000000) / COUNT(*) AS rfi_ppm
    FROM flagged
    GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
    """


# ---------------------------------------------------------------------------
# Round 6: 2D fringe fit (delay + rate) and solution-interval gain interp
# ---------------------------------------------------------------------------


def fringe_fit_delay_rate(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """Per-baseline 2D fringe fit — the VLBI fringe-search diagnostic
    extending fit_delay_slope to TWO regressors: visibility phase
    against channel index (delay) AND time-bin index (rate),
    φ ≈ φ₀ + b·chan + c·tbin, solved by Cramer's rule on the 3×3 normal
    equations of exact integer sums (x's are small ints, y is the
    1e-9-quantized phase; cf. the reference's per-antenna phase solver,
    phase_only.py:243-340 — this is its baseline-resolved 2D precursor).

    The time regressor is centred on the per-dataset min tbin (one 1-row
    broadcast aggregate — the as-of clamp-bounds pattern) to keep the
    determinant terms small; sums and determinants accumulate in
    decimal(38,0) (triple products of sums overflow int64; HUGEINT
    twin), and each output is a division of two exactly-computed
    integers cast to double — bit-identical cross-engine with NO final
    rounding (the fit_delay_phase_slope signed-rounding lesson).

    One sample pass, one per-baseline aggregate, zero joins beyond the
    1-row broadcast: scale-shape identical to fit_delay_slope."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    lo = vis.agg(
        F.min(F.floor(F.col("time") / F.lit(bin_secs)).cast("long")).alias("lo")
    )
    samp = vis.crossJoin(F.broadcast(lo)).select(
        "antenna1", "antenna2",
        F.col("chan").cast("long").alias("x1"),
        (F.floor(F.col("time") / F.lit(bin_secs)).cast("long") - F.col("lo")).alias("x2"),
        quantize(F.atan2(F.col("vis_im"), F.col("vis_re")), 1e9).alias("y"),
    )
    g = samp.groupBy("antenna1", "antenna2").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x1").cast(dec)).alias("s1"),
        F.sum(F.col("x2").cast(dec)).alias("s2"),
        F.sum((F.col("x1").cast(dec) * F.col("x1"))).alias("s11"),
        F.sum((F.col("x2").cast(dec) * F.col("x2"))).alias("s22"),
        F.sum((F.col("x1").cast(dec) * F.col("x2"))).alias("s12"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x1").cast(dec) * F.col("y"))).alias("s1y"),
        F.sum((F.col("x2").cast(dec) * F.col("y"))).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det_b = (
        n * (s1y * s22 - s12 * s2y)
        - s1 * (sy * s22 - s2 * s2y)
        + s2 * (sy * s12 - s2 * s1y)
    )
    # Cramer for c: third column of the normal matrix replaced by the
    # y moments
    det_c = (
        n * (s11 * s2y - s12 * s1y)
        - s1 * (s1 * s2y - s12 * sy)
        + s2 * (s1 * s1y - s11 * sy)
    )
    det_a = (
        sy * (s11 * s22 - s12 * s12)
        - s1y * (s1 * s22 - s12 * s2)
        + s2y * (s1 * s12 - s11 * s2)
    )
    # Outputs are 1e-12-quantized integers, NOT raw ratio doubles: the
    # determinants exceed 2^53, and DuckDB's int128→double cast is not
    # correctly rounded (measured 1-ulp drift vs Java BigDecimal), so the
    # unrounded ratios differ in the last bit — the quantized grid
    # absorbs it (picoradian precision).
    from codex_africanus_spark.functions.deterministic import quantize as _qz

    return g.filter(det != F.lit(0).cast(dec)).select(
        "antenna1", "antenna2",
        F.col("n").cast("long").alias("n_samp"),
        _qz(det_b.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "delay_prad_per_chan"
        ),
        _qz(det_c.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "rate_prad_per_bin"
        ),
        _qz(det_a.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "phase0_prad"
        ),
    )


def FRINGE_FIT_SQL(bin_secs: float = 2_592_000.0) -> str:
    return f"""
    , lo AS (
      SELECT MIN(CAST(FLOOR(time / {bin_secs!r}) AS BIGINT)) AS lo FROM vis
    ),
    samp AS (
      SELECT antenna1, antenna2,
             CAST(chan AS HUGEINT) AS x1,
             CAST(CAST(FLOOR(time / {bin_secs!r}) AS BIGINT) - lo.lo AS HUGEINT) AS x2,
             CAST(CAST(ROUND(atan2(vis_im, vis_re) * 1000000000.0) AS BIGINT)
                  AS HUGEINT) AS y
      FROM vis, lo
    ),
    g AS (
      SELECT antenna1, antenna2,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
             SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM samp GROUP BY antenna1, antenna2
    )
    SELECT antenna1, antenna2, CAST(n AS BIGINT) AS n_samp,
           CAST(ROUND(CAST(n * (s1y * s22 - s12 * s2y)
                - s1 * (sy * s22 - s2 * s2y)
                + s2 * (sy * s12 - s2 * s1y) AS DOUBLE)
             / CAST(n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
             / 1000000000.0 * 1000000000000.0) AS BIGINT) AS delay_prad_per_chan,
           CAST(ROUND(CAST(n * (s11 * s2y - s12 * s1y)
                - s1 * (s1 * s2y - s12 * sy)
                + s2 * (s1 * s1y - s11 * sy) AS DOUBLE)
             / CAST(n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
             / 1000000000.0 * 1000000000000.0) AS BIGINT) AS rate_prad_per_bin,
           CAST(ROUND(CAST(sy * (s11 * s22 - s12 * s12)
                - s1y * (s1 * s22 - s12 * s2)
                + s2y * (s1 * s12 - s11 * s2) AS DOUBLE)
             / CAST(n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
             / 1000000000.0 * 1000000000000.0) AS BIGINT) AS phase0_prad
    FROM g
    WHERE (n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2)) <> 0
    ORDER BY antenna1, antenna2
    """


def gains_time_interp(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """Solution-interval gain interpolation (CASA applycal
    interp='linear'; cf. the reference's per-interval gain axes,
    dde.py / the gains lookup in predict): per-antenna complex gain
    solutions exist at time-bin CENTRES (k + 0.5)·bin; every visibility
    row linearly interpolates its two bracketing solutions, clamped at
    the dataset edges.

    The solution table is synthesized deterministically over the
    dataset's [lo, hi] bin span (closed-form amp/phase per (bin,
    antenna) — the GAINS_SQL recipe with a time axis) and BROADCAST: the
    fact side takes four broadcast hash joins (bracket × antenna1/2) and
    never shuffles — the dimension-join discipline every gains lookup in
    this engine follows. Interpolated gains quantize to the 1e-9 grid
    (sign-aware, the signed-rounding rule).

    Single-bin datasets (hi == lo) get applycal's clamped-constant
    semantics, not an empty frame: k0 clamps to lo, frac is forced to
    0, and one extra k = lo+1 solution row is synthesized so the upper
    bracket join still matches (its values are multiplied by frac = 0,
    so the output is exactly the lone solution)."""
    from codex_africanus_spark.functions.deterministic import quantize

    spark = vis.sparkSession
    bounds = vis.agg(
        F.min(F.floor(F.col("time") / F.lit(bin_secs)).cast("long")).alias("lo"),
        F.max(F.floor(F.col("time") / F.lit(bin_secs)).cast("long")).alias("hi"),
    )
    b = bounds.collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    single = hi == lo
    sol_hi = lo + 1 if single else hi
    k = F.col("id") % (sol_hi - lo + 1) + lo
    ant = (F.col("id") / (sol_hi - lo + 1)).cast("long")
    phase = F.col("k") * F.lit(0.05) + F.col("antenna") * F.lit(0.3)
    amp = (
        F.lit(1.0) + F.col("antenna") / F.lit(50.0)
        + (F.col("k") % 5) / F.lit(100.0)
    )
    sol = (
        spark.range((sol_hi - lo + 1) * 7)
        .select(k.alias("k"), ant.cast("int").alias("antenna"))
        .select(
            "k", "antenna",
            (amp * F.cos(phase)).alias("g_re"),
            (amp * F.sin(phase)).alias("g_im"),
        )
    )
    t = F.col("time") / F.lit(bin_secs) - F.lit(0.5)
    k0 = F.least(
        F.greatest(F.floor(t).cast("long"), F.lit(lo)), F.lit(max(hi - 1, lo))
    )
    frac = (
        F.lit(0.0)
        if single
        else F.least(F.greatest(t - k0, F.lit(0.0)), F.lit(1.0))
    )
    rows = vis.select(
        "row_id", "antenna1", "antenna2",
        k0.alias("k0"),
        frac.alias("frac"),
    )

    def bracket(df, ant_col, tag):
        g0 = sol.select(
            F.col("k").alias("k0"), F.col("antenna").alias(ant_col),
            F.col("g_re").alias(f"{tag}_re0"), F.col("g_im").alias(f"{tag}_im0"),
        )
        g1 = sol.select(
            (F.col("k") - 1).alias("k0"), F.col("antenna").alias(ant_col),
            F.col("g_re").alias(f"{tag}_re1"), F.col("g_im").alias(f"{tag}_im1"),
        )
        return (
            df.join(F.broadcast(g0), ["k0", ant_col])
            .join(F.broadcast(g1), ["k0", ant_col])
        )

    j = bracket(bracket(rows, "antenna1", "g1"), "antenna2", "g2")
    lerp = lambda a, b: (F.lit(1.0) - F.col("frac")) * F.col(a) + F.col("frac") * F.col(b)  # noqa: E731
    return j.select(
        "row_id", "antenna1", "antenna2",
        quantize(lerp("g1_re0", "g1_re1"), 1e9).alias("g1_re_q"),
        quantize(lerp("g1_im0", "g1_im1"), 1e9).alias("g1_im_q"),
        quantize(lerp("g2_re0", "g2_re1"), 1e9).alias("g2_re_q"),
        quantize(lerp("g2_im0", "g2_im1"), 1e9).alias("g2_im_q"),
    )


def GAINS_INTERP_SQL(bin_secs: float = 2_592_000.0) -> str:
    q = "CAST(ROUND(({x}) * 1000000000.0) AS BIGINT)"
    lerp = "((1.0 - r.frac) * {a} + r.frac * {b})"
    return f"""
    , bounds AS (
      SELECT MIN(CAST(FLOOR(time / {bin_secs!r}) AS BIGINT)) AS lo,
             MAX(CAST(FLOOR(time / {bin_secs!r}) AS BIGINT)) AS hi
      FROM vis
    ),
    kk AS (
      SELECT unnest(generate_series(bounds.lo,
                                    GREATEST(bounds.hi, bounds.lo + 1))) AS k
      FROM bounds
    ),
    sol AS (
      SELECT kk.k AS k, CAST(a.range AS INT) AS antenna,
             (1.0 + a.range / 50.0 + (kk.k % 5) / 100.0)
               * cos(kk.k * 0.05 + a.range * 0.3) AS g_re,
             (1.0 + a.range / 50.0 + (kk.k % 5) / 100.0)
               * sin(kk.k * 0.05 + a.range * 0.3) AS g_im
      FROM kk, range(7) a
    ),
    r AS (
      SELECT row_id, antenna1, antenna2,
             LEAST(GREATEST(CAST(FLOOR(time / {bin_secs!r} - 0.5) AS BIGINT),
                            bounds.lo),
                   GREATEST(bounds.hi - 1, bounds.lo)) AS k0,
             CASE WHEN bounds.hi = bounds.lo THEN 0.0 ELSE
               LEAST(GREATEST((time / {bin_secs!r} - 0.5)
                              - LEAST(GREATEST(CAST(FLOOR(time / {bin_secs!r} - 0.5)
                                                    AS BIGINT),
                                               bounds.lo),
                                      GREATEST(bounds.hi - 1, bounds.lo)),
                              0.0), 1.0)
             END AS frac
      FROM vis, bounds
    )
    SELECT r.row_id, r.antenna1, r.antenna2,
           {q.format(x=lerp.format(a='a0.g_re', b='a1.g_re'))} AS g1_re_q,
           {q.format(x=lerp.format(a='a0.g_im', b='a1.g_im'))} AS g1_im_q,
           {q.format(x=lerp.format(a='b0.g_re', b='b1.g_re'))} AS g2_re_q,
           {q.format(x=lerp.format(a='b0.g_im', b='b1.g_im'))} AS g2_im_q
    FROM r
    JOIN sol a0 ON a0.k = r.k0 AND a0.antenna = r.antenna1
    JOIN sol a1 ON a1.k = r.k0 + 1 AND a1.antenna = r.antenna1
    JOIN sol b0 ON b0.k = r.k0 AND b0.antenna = r.antenna2
    JOIN sol b1 ON b1.k = r.k0 + 1 AND b1.antenna = r.antenna2
    ORDER BY r.row_id
    """


def _spectra(vis: DataFrame) -> DataFrame:
    """Unique per-(time, baseline, chan) integer spectra: the source
    data carries duplicate row keys (the residual_vis lesson), so every
    spectral window pass pre-aggregates with exact fixed-point sums
    first — otherwise lag/lead ordering ties are engine-nondeterministic."""
    from codex_africanus_spark.functions.deterministic import qsum

    return vis.groupBy("time", "antenna1", "antenna2", "chan").agg(
        qsum(F.col("vis_re"), 1e6).alias("re_q"),
        qsum(F.col("vis_im"), 1e6).alias("im_q"),
    )


_SPECTRA_SQL = """
      SELECT time, antenna1, antenna2, chan,
             CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT) AS re_q,
             CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT) AS im_q
      FROM vis GROUP BY 1, 2, 3, 4
"""


def hanning_smooth_spectra(vis: DataFrame) -> DataFrame:
    """Hanning spectral smoothing (casacore/CASA `hanningsmooth`):
    each channel becomes 0.25·prev + 0.5·cur + 0.25·next within its
    (time, baseline) spectrum; band edges keep their original value
    (and are marked, as the task flags them). One lag/lead window
    partitioned by spectrum — hash-partition-parallel at any scale
    (groups are n_chan wide), over the pre-aggregated integer spectra,
    so the smoothed output is an exact 4x-scaled integer (the dyadic
    taps are (1, 2, 1)/4): no float leaves the engine at all."""
    from pyspark.sql import Window as W

    w = W.partitionBy("time", "antenna1", "antenna2").orderBy("chan")
    sp = _spectra(vis)
    prev_re, next_re = F.lag("re_q").over(w), F.lead("re_q").over(w)
    prev_im, next_im = F.lag("im_q").over(w), F.lead("im_q").over(w)
    edge = prev_re.isNull() | next_re.isNull()
    return sp.select(
        "time", "antenna1", "antenna2", "chan",
        F.when(edge, F.col("re_q") * 4)
        .otherwise(prev_re + F.col("re_q") * 2 + next_re)
        .alias("smooth_re_q4"),
        F.when(edge, F.col("im_q") * 4)
        .otherwise(prev_im + F.col("im_q") * 2 + next_im)
        .alias("smooth_im_q4"),
        edge.cast("int").alias("is_edge"),
    )


HANNING_SQL = f"""
    , sp AS ({_SPECTRA_SQL})
    SELECT time, antenna1, antenna2, chan,
           CASE WHEN lag(re_q) OVER w IS NULL OR lead(re_q) OVER w IS NULL
                THEN re_q * 4
                ELSE lag(re_q) OVER w + re_q * 2 + lead(re_q) OVER w
           END AS smooth_re_q4,
           CASE WHEN lag(re_q) OVER w IS NULL OR lead(re_q) OVER w IS NULL
                THEN im_q * 4
                ELSE lag(im_q) OVER w + im_q * 2 + lead(im_q) OVER w
           END AS smooth_im_q4,
           CAST(CASE WHEN lag(re_q) OVER w IS NULL
                       OR lead(re_q) OVER w IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_edge
    FROM sp
    WINDOW w AS (PARTITION BY time, antenna1, antenna2 ORDER BY chan)
    ORDER BY time, antenna1, antenna2, chan
"""


def vis_noise_estimate(vis: DataFrame) -> DataFrame:
    """Per-baseline thermal-noise estimate from adjacent-channel
    differencing — the standard SEFD/weight sanity check (sky signal is
    smooth across neighbouring channels, so Var(V[c+1]−V[c]) ≈ 2σ²):
    σ̂² = Σ(Δre² + Δim²) / (4·n_diffs) over both quadratures of the
    pre-aggregated integer spectra. Squared diffs sum in decimal(38,0)
    (HUGEINT twin) so the estimate survives corpus-scale row counts;
    the output σ̂² is 1e-6-quantized."""
    from pyspark.sql import Window as W
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    w = W.partitionBy("time", "antenna1", "antenna2").orderBy("chan")
    sp = _spectra(vis)
    diffs = sp.select(
        "antenna1", "antenna2",
        (F.col("re_q") - F.lag("re_q").over(w)).alias("dr"),
        (F.col("im_q") - F.lag("im_q").over(w)).alias("di"),
    ).filter(F.col("dr").isNotNull())
    g = diffs.groupBy("antenna1", "antenna2").agg(
        F.count(F.lit(1)).alias("n_diffs"),
        F.sum(
            F.col("dr").cast(dec) * F.col("dr")
            + F.col("di").cast(dec) * F.col("di")
        ).alias("ss"),
    )
    sigma2 = (
        F.col("ss").cast("double") / (F.lit(4) * F.col("n_diffs")) / F.lit(1e12)
    )
    return g.select(
        "antenna1", "antenna2", "n_diffs",
        quantize(sigma2, 1e6).alias("sigma2_micro"),
    )


NOISE_EST_SQL = f"""
    , sp AS ({_SPECTRA_SQL})
    , diffs AS (
      SELECT antenna1, antenna2,
             re_q - lag(re_q) OVER w AS dr,
             im_q - lag(im_q) OVER w AS di
      FROM sp
      WINDOW w AS (PARTITION BY time, antenna1, antenna2 ORDER BY chan)
    ),
    g AS (
      SELECT antenna1, antenna2, COUNT(*) AS n_diffs,
             SUM(CAST(dr AS HUGEINT) * dr + CAST(di AS HUGEINT) * di) AS ss
      FROM diffs WHERE dr IS NOT NULL
      GROUP BY antenna1, antenna2
    )
    SELECT antenna1, antenna2, CAST(n_diffs AS BIGINT) AS n_diffs,
           CAST(ROUND(CAST(ss AS DOUBLE) / (4 * n_diffs) / 1000000000000.0
                      * 1000000.0) AS BIGINT) AS sigma2_micro
    FROM g
    ORDER BY antenna1, antenna2
"""


def closure_amplitudes(vis: DataFrame, bin_secs: float = 2_592_000.0) -> DataFrame:
    """Closure amplitudes over antenna quadrangles — the gain-amplitude
    analogue of closure_phases: ln|V_ab| + ln|V_cd| − ln|V_ac| − ln|V_bd|
    for every a<b<c<d (antenna-based gain AMPLITUDES cancel on the
    quad; TMS ch. 10.3). Reported in log form so the closure statistic
    is an exact integer combination of 1e-9-quantized per-leg log
    amplitudes — the same engine-reproducibility discipline as the
    phase triangles.

    Shape: the SAME (time-bin, baseline) exact fixed-point collapse as
    closure_phases (O(#bins·#baselines)), then a QUADRUPLE self-join at
    diagnostic cardinality (C(n_ant,4) quads per bin). Zero-amplitude
    legs are dropped before the log (both engines)."""
    from codex_africanus_spark.functions.deterministic import qsum, quantize

    chan0 = vis.filter(F.col("chan") == 0)
    base = (
        chan0.withColumn(
            "tbin", F.floor(F.col("time") / F.lit(bin_secs)).cast("long")
        )
        .filter(F.col("antenna1") < F.col("antenna2"))
        .groupBy("tbin", "antenna1", "antenna2")
        .agg(
            qsum(F.col("vis_re"), 1e6).alias("re_q"),
            qsum(F.col("vis_im"), 1e6).alias("im_q"),
        )
        # r11 sf1.0 sweep fork: re_q ~ 2.5e11 at sf1, so the squared
        # zero-leg test overflows BIGINT under ANSI mode. The != form is
        # value-identical and magnitude-safe (oracle changed to match).
        .filter((F.col("re_q") != 0) | (F.col("im_q") != 0))
    )
    lamp_q = quantize(
        F.lit(0.5)
        * F.log(
            (
                F.col("re_q").cast("double") * F.col("re_q").cast("double")
                + F.col("im_q").cast("double") * F.col("im_q").cast("double")
            )
        ),
        1e9,
    )
    legs = base.select("tbin", "antenna1", "antenna2", lamp_q.alias("la_q"))
    ab = legs.select(
        "tbin", F.col("antenna1").alias("a"), F.col("antenna2").alias("b"),
        F.col("la_q").alias("la_ab"),
    )
    cd = legs.select(
        "tbin", F.col("antenna1").alias("c"), F.col("antenna2").alias("d"),
        F.col("la_q").alias("la_cd"),
    )
    ac = legs.select(
        "tbin", F.col("antenna1").alias("a"), F.col("antenna2").alias("c"),
        F.col("la_q").alias("la_ac"),
    )
    bd = legs.select(
        "tbin", F.col("antenna1").alias("b"), F.col("antenna2").alias("d"),
        F.col("la_q").alias("la_bd"),
    )
    quad = (
        ab.join(cd, "tbin")
        .filter(F.col("b") < F.col("c"))
        .join(ac, ["tbin", "a", "c"])
        .join(bd, ["tbin", "b", "d"])
    )
    return quad.select(
        "tbin", "a", "b", "c", "d",
        (
            (F.col("la_ab") + F.col("la_cd") - F.col("la_ac") - F.col("la_bd"))
            / F.lit(1e9)
        ).alias("closure_logamp"),
    )


CLOSURE_AMPS_SQL = """
    , base AS (
      SELECT CAST(FLOOR(time / 2592000.0) AS BIGINT) AS tbin,
             antenna1, antenna2,
             SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS re_q,
             SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS im_q
      FROM vis
      WHERE chan = 0 AND antenna1 < antenna2
      GROUP BY 1, 2, 3
      HAVING SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT))
               * SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT))
             + SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT))
               * SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) > 0
    ),
    legs AS (
      SELECT tbin, antenna1, antenna2,
             CAST(ROUND(0.5 * ln(CAST(re_q AS DOUBLE) * CAST(re_q AS DOUBLE)
                                 + CAST(im_q AS DOUBLE) * CAST(im_q AS DOUBLE))
                        * 1000000000.0) AS BIGINT) AS la_q
      FROM base
    )
    SELECT ab.tbin, ab.antenna1 AS a, ab.antenna2 AS b,
           cd.antenna1 AS c, cd.antenna2 AS d,
           (ab.la_q + cd.la_q - ac.la_q - bd.la_q) / 1000000000.0
             AS closure_logamp
    FROM legs ab
    JOIN legs cd ON cd.tbin = ab.tbin AND ab.antenna2 < cd.antenna1
    JOIN legs ac ON ac.tbin = ab.tbin AND ac.antenna1 = ab.antenna1
                AND ac.antenna2 = cd.antenna1
    JOIN legs bd ON bd.tbin = ab.tbin AND bd.antenna1 = ab.antenna2
                AND bd.antenna2 = cd.antenna2
    ORDER BY ab.tbin, a, b, c, d
"""


def bandpass_curvature_fit(vis: DataFrame) -> DataFrame:
    """Per-baseline bandpass log-amplitude curvature — the quadratic
    spectral fit a CASA bandpass task inspects for instrumental slope/
    ripple: ln|V| ≈ a + b·chan + c·chan² over every (time, baseline,
    chan) pre-collapsed exact integer spectrum, solved by Cramer's rule
    on the 3×3 normal equations (the fringe_fit_delay_rate machinery
    with the second regressor x₂ = chan² instead of the time bin —
    curvature c is the band-ripple diagnostic).

    Determinism: y is the 1e-9-quantized log amplitude of exact BIGINT
    spectrum sums; regressors are small ints, so all nine moments and
    the Cramer determinants are exact decimal(38,0) integers (at 10¹²
    rows/baseline the determinant magnitudes stay ≤ ~10³⁶ — inside the
    38-digit bound); outputs land on the 1e-12 grid (the int128→double
    cast lesson). One spectra collapse + one baseline aggregate."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    sp = _spectra(vis).filter(
        F.col("re_q") * F.col("re_q") + F.col("im_q") * F.col("im_q") > 0
    )
    samp = sp.select(
        "antenna1", "antenna2",
        F.col("chan").cast("long").alias("x1"),
        (F.col("chan").cast("long") * F.col("chan")).alias("x2"),
        quantize(
            F.lit(0.5)
            * F.log(
                F.col("re_q").cast("double") * F.col("re_q").cast("double")
                + F.col("im_q").cast("double") * F.col("im_q").cast("double")
            ),
            1e9,
        ).alias("y"),
    )
    g = samp.groupBy("antenna1", "antenna2").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x1").cast(dec)).alias("s1"),
        F.sum(F.col("x2").cast(dec)).alias("s2"),
        F.sum((F.col("x1").cast(dec) * F.col("x1"))).alias("s11"),
        F.sum((F.col("x2").cast(dec) * F.col("x2"))).alias("s22"),
        F.sum((F.col("x1").cast(dec) * F.col("x2"))).alias("s12"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x1").cast(dec) * F.col("y"))).alias("s1y"),
        F.sum((F.col("x2").cast(dec) * F.col("y"))).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det_b = (
        n * (s1y * s22 - s12 * s2y)
        - s1 * (sy * s22 - s2 * s2y)
        + s2 * (sy * s12 - s2 * s1y)
    )
    det_c = (
        n * (s11 * s2y - s12 * s1y)
        - s1 * (s1 * s2y - s12 * sy)
        + s2 * (s1 * s1y - s11 * sy)
    )
    det_a = (
        sy * (s11 * s22 - s12 * s12)
        - s1y * (s1 * s22 - s12 * s2)
        + s2y * (s1 * s12 - s11 * s2)
    )
    return g.filter(det != F.lit(0).cast(dec)).select(
        "antenna1", "antenna2",
        F.col("n").cast("long").alias("n_samp"),
        quantize(det_a.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "logamp0_p"
        ),
        quantize(det_b.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "slope_p_per_chan"
        ),
        quantize(det_c.cast("double") / det.cast("double") / F.lit(1e9), 1e12).alias(
            "curvature_p_per_chan2"
        ),
    )


BANDPASS_CURVE_SQL = f"""
    , spq AS ({_SPECTRA_SQL}),
    samp AS (
      SELECT antenna1, antenna2,
             CAST(chan AS HUGEINT) AS x1,
             CAST(chan * chan AS HUGEINT) AS x2,
             CAST(CAST(ROUND(0.5 * ln(CAST(re_q AS DOUBLE) * CAST(re_q AS DOUBLE)
                                      + CAST(im_q AS DOUBLE) * CAST(im_q AS DOUBLE))
                             * 1000000000.0) AS BIGINT) AS HUGEINT) AS y
      FROM spq WHERE re_q != 0 OR im_q != 0
    ),
    g AS (
      SELECT antenna1, antenna2,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
             SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM samp GROUP BY antenna1, antenna2
    )
    SELECT antenna1, antenna2, CAST(n AS BIGINT) AS n_samp,
           CAST(ROUND(CAST(sy * (s11 * s22 - s12 * s12)
                           - s1y * (s1 * s22 - s12 * s2)
                           + s2y * (s1 * s12 - s11 * s2) AS DOUBLE)
                 / CAST(n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
                 / 1000000000.0 * 1000000000000.0) AS BIGINT) AS logamp0_p,
           CAST(ROUND(CAST(n * (s1y * s22 - s12 * s2y)
                           - s1 * (sy * s22 - s2 * s2y)
                           + s2 * (sy * s12 - s2 * s1y) AS DOUBLE)
                 / CAST(n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
                 / 1000000000.0 * 1000000000000.0) AS BIGINT) AS slope_p_per_chan,
           CAST(ROUND(CAST(n * (s11 * s2y - s12 * s1y)
                           - s1 * (s1 * s2y - s12 * sy)
                           + s2 * (s1 * s1y - s11 * sy) AS DOUBLE)
                 / CAST(n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2) AS DOUBLE)
                 / 1000000000.0 * 1000000000000.0) AS BIGINT) AS curvature_p_per_chan2
    FROM g
    WHERE (n * (s11 * s22 - s12 * s12)
           - s1 * (s1 * s22 - s12 * s2)
           + s2 * (s1 * s12 - s11 * s2)) <> 0
    ORDER BY antenna1, antenna2
"""


REGRID_TARGETS = 5  # target channels, offset a quarter-channel from source


def spectral_regrid_linear(vis: DataFrame) -> DataFrame:
    """Spectral regridding (CASA cvel / mstransform regridms): resample
    each (time, baseline) spectrum onto a NEW frequency grid by linear
    interpolation between the two bracketing source channels. The MS
    frequency axis is affine (freq = ν₀·(1 + chan/8)), so the bracket
    is closed-form arithmetic — k = chan position of the target
    frequency, k0 = floor(k) clamped, frac = k − k0 — no search join
    (the as-of pattern degenerates to projection). Target grid:
    REGRID_TARGETS channels offset a quarter-channel from the source
    grid (frac = 0.25 exactly — dyadic, so the integer lerp
    4·out = 3·v0 + v1 is EXACT: no float leaves the engine).

    Shape: one spectra collapse (exact fixed-point), one broadcast of
    the 5-row target grid, two self-joins of the spectra frame keyed by
    (time, baseline, chan) — per-group cardinality, hash-parallel at
    any scale."""
    sp = _spectra(vis)
    spark = vis.sparkSession
    tgt = spark.range(REGRID_TARGETS).select(
        F.col("id").cast("int").alias("tbin_out"),
        # target channel position k = id + 0.25 → k0 = id, frac = 1/4
        F.col("id").cast("int").alias("k0"),
    )
    j = (
        sp.crossJoin(F.broadcast(tgt))
        .filter(F.col("chan") == F.col("k0"))
        .select(
            "time", "antenna1", "antenna2", "tbin_out", "k0",
            F.col("re_q").alias("re0"), F.col("im_q").alias("im0"),
        )
    )
    upper = sp.select(
        "time", "antenna1", "antenna2",
        (F.col("chan") - 1).alias("k0"),
        F.col("re_q").alias("re1"), F.col("im_q").alias("im1"),
    )
    out = j.join(upper, ["time", "antenna1", "antenna2", "k0"])
    return out.select(
        "time", "antenna1", "antenna2", "tbin_out",
        (F.lit(3) * F.col("re0") + F.col("re1")).alias("regrid_re_q4"),
        (F.lit(3) * F.col("im0") + F.col("im1")).alias("regrid_im_q4"),
    )


REGRID_SQL = f"""
    , spq AS ({_SPECTRA_SQL}),
    tgt AS (SELECT CAST(range AS INT) AS tbin_out, CAST(range AS INT) AS k0
            FROM range({REGRID_TARGETS}))
    SELECT a.time, a.antenna1, a.antenna2, t.tbin_out,
           3 * a.re_q + b.re_q AS regrid_re_q4,
           3 * a.im_q + b.im_q AS regrid_im_q4
    FROM spq a
    JOIN tgt t ON a.chan = t.k0
    JOIN spq b ON b.time = a.time AND b.antenna1 = a.antenna1
              AND b.antenna2 = a.antenna2 AND b.chan = t.k0 + 1
    ORDER BY a.time, a.antenna1, a.antenna2, t.tbin_out
"""


# ---------------------------------------------------------------------------
# Round 8: antenna-based delay decomposition (gencal K-Jones shape)
# ---------------------------------------------------------------------------


def antenna_delay_decomposition(vis: DataFrame, n_ant: int = 7) -> DataFrame:
    """Per-baseline phase-vs-channel slopes -> per-antenna delays via the
    complete-graph LSQ closed form tau_p = (sum_{q>p} s_pq -
    sum_{q<p} s_qp)/N, gauge-fixed to antenna 0, plus the per-antenna
    closure residual sum |s_pq - (tau_p - tau_q)|. The baseline->antenna
    decomposition is the delay analogue of the reference's per-antenna
    phase-only solve (calibration/phase_only/phase_only.py:30-143, JHJ/JHR
    normal equations) with the complete-graph closed form replacing the
    iterative solve. All moments in DECIMAL(38,0); slopes/delays on the
    q12 (picorad/chan) grid."""
    from codex_africanus_spark.functions.deterministic import quantize

    dec = "decimal(38,0)"
    vis = vis.filter(
        (F.col("antenna1") < F.col("antenna2"))
        & ~(F.col("flag") | F.col("flag_row"))
    )
    samp = vis.select(
        "antenna1",
        "antenna2",
        "chan",
        quantize(F.atan2(F.col("vis_im"), F.col("vis_re")), 1e9).alias("y"),
    )
    m = samp.groupBy("antenna1", "antenna2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("chan").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("chan").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("chan").cast(dec) * F.col("chan")).alias("sxx"),
    )
    num = F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    slopes = (
        m.filter(den != 0)
        .select(
            "antenna1",
            "antenna2",
            quantize(num.cast("double") / den.cast("double") * F.lit(1000.0), 1.0)
            .alias("s_q12"),
        )
        # the baseline-dim slope frame (n_ant^2 rows) feeds five
        # consumers (both union legs, the residual join, both residual
        # legs) — without materialization each re-runs the FACT collapse
        # (14 scans / 22 exchanges in the audited plan); one lazy
        # localCheckpoint makes the fact table scan exactly once
        .localCheckpoint(eager=False)
    )
    inc = slopes.select(
        F.col("antenna1").alias("antenna"), F.col("s_q12").alias("s")
    ).unionAll(
        slopes.select(F.col("antenna2").alias("antenna"), (-F.col("s_q12")).alias("s"))
    )
    tau = inc.groupBy("antenna").agg(
        F.count(F.lit(1)).alias("n_incident"),
        quantize(F.sum("s").cast("double") / F.lit(float(n_ant)), 1.0).alias("tau_q12"),
    )
    tb = F.broadcast(tau.select("antenna", "tau_q12"))
    resid = (
        slopes.join(
            tb.withColumnRenamed("antenna", "antenna1").withColumnRenamed("tau_q12", "tp"),
            "antenna1",
        )
        .join(
            tb.withColumnRenamed("antenna", "antenna2").withColumnRenamed("tau_q12", "tq"),
            "antenna2",
        )
        .select(
            "antenna1",
            "antenna2",
            F.abs(F.col("s_q12") - (F.col("tp") - F.col("tq"))).alias("ar"),
        )
    )
    rinc = resid.select(F.col("antenna1").alias("antenna"), "ar").unionAll(
        resid.select(F.col("antenna2").alias("antenna"), "ar")
    )
    rsum = rinc.groupBy("antenna").agg(F.sum("ar").alias("resid_abs_sum_q12"))
    t0 = F.broadcast(
        tau.filter(F.col("antenna") == 0).select(F.col("tau_q12").alias("tau0"))
    )
    return (
        tau.join(rsum, "antenna")
        .crossJoin(t0)
        .select(
            "antenna",
            (F.col("tau_q12") - F.col("tau0")).alias("tau_rel_q12"),
            "n_incident",
            "resid_abs_sum_q12",
        )
        .orderBy("antenna")
    )


# ---------------------------------------------------------------------------
# r10: statwt — recompute data weights from the data's own scatter
# (CASA statwt semantics; the reference delegates weight estimation to
# upstream tools, SURVEY §2.1 write-back note). Per (baseline, weekly
# chunk): sigma2 from adjacent-channel differencing (the
# vis_noise_estimate kernel at chunk grain), new weight = 1/sigma2,
# then the REWEIGHTED per-baseline average — the downstream consumer a
# weight update exists for. Chunks with zero variance estimate are
# excluded (statwt flags them).
# ---------------------------------------------------------------------------

STATWT_BIN_SECS = 604800.0


def statwt_reweight(vis: DataFrame) -> DataFrame:
    from pyspark.sql import Window as W

    from codex_africanus_spark.functions.deterministic import quantize, qsum

    dec = "decimal(38,0)"
    w = W.partitionBy("time", "antenna1", "antenna2").orderBy("chan")
    sp = _spectra(vis)
    tbin = F.floor(F.col("time") / F.lit(STATWT_BIN_SECS)).cast("long")
    diffs = sp.select(
        "antenna1", "antenna2", tbin.alias("tbin"),
        (F.col("re_q") - F.lag("re_q").over(w)).alias("dr"),
        (F.col("im_q") - F.lag("im_q").over(w)).alias("di"),
    ).filter(F.col("dr").isNotNull())
    sig = diffs.groupBy("antenna1", "antenna2", "tbin").agg(
        F.count(F.lit(1)).alias("n_diffs"),
        F.sum(
            F.col("dr").cast(dec) * F.col("dr")
            + F.col("di").cast(dec) * F.col("di")
        ).alias("ss"),
    ).select(
        "antenna1", "antenna2", "tbin", "n_diffs",
        quantize(
            F.col("ss").cast("double") / (F.lit(4) * F.col("n_diffs"))
            / F.lit(1e12),
            1e6,
        ).alias("sigma2_micro"),
    )
    means = vis.groupBy(
        "antenna1", "antenna2",
        F.floor(F.col("time") / F.lit(STATWT_BIN_SECS)).cast("long").alias("tbin"),
    ).agg(
        qsum(F.col("vis_re"), 1e6).alias("sre"),
        qsum(F.col("vis_im"), 1e6).alias("sim"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "antenna1", "antenna2", "tbin",
        (F.col("sre") / F.lit(1e6) / F.col("n")).alias("mre"),
        (F.col("sim") / F.lit(1e6) / F.col("n")).alias("mim"),
    )
    # new weight per chunk: w = 1e6 / sigma2_micro (an exact-int ratio);
    # cross-chunk products quantize to the 1e-9 grid before the exact
    # integer sum (float sums are order-sensitive — parity rule)
    joined = sig.filter(F.col("sigma2_micro") > 0).join(
        means, ["antenna1", "antenna2", "tbin"]
    ).select(
        "antenna1", "antenna2",
        (F.lit(1e6) / F.col("sigma2_micro")).alias("wgt"),
        "mre", "mim",
    )
    return (
        joined.groupBy("antenna1", "antenna2")
        .agg(
            F.count(F.lit(1)).alias("n_bins_used"),
            qsum(F.col("wgt"), 1e9).alias("wsum_q"),
            qsum(F.col("mre") * F.col("wgt"), 1e9).alias("re_wq"),
            qsum(F.col("mim") * F.col("wgt"), 1e9).alias("im_wq"),
        )
        .select(
            "antenna1", "antenna2", "n_bins_used", "wsum_q",
            (F.col("re_wq").cast("double") / F.col("wsum_q")).alias("re_w"),
            (F.col("im_wq").cast("double") / F.col("wsum_q")).alias("im_w"),
        )
        .orderBy("antenna1", "antenna2")
    )


STATWT_SQL = f"""
    , sp AS ({_SPECTRA_SQL})
    , diffs AS (
      SELECT antenna1, antenna2,
             CAST(FLOOR(time / {STATWT_BIN_SECS!r}) AS BIGINT) AS tbin,
             re_q - lag(re_q) OVER w AS dr,
             im_q - lag(im_q) OVER w AS di
      FROM sp
      WINDOW w AS (PARTITION BY time, antenna1, antenna2 ORDER BY chan)
    ),
    sig AS (
      SELECT antenna1, antenna2, tbin, COUNT(*) AS n_diffs,
             CAST(ROUND(CAST(SUM(CAST(dr AS HUGEINT) * dr
                                 + CAST(di AS HUGEINT) * di) AS DOUBLE)
                        / (4 * COUNT(*)) / 1e12 * 1000000.0) AS BIGINT)
               AS sigma2_micro
      FROM diffs WHERE dr IS NOT NULL
      GROUP BY antenna1, antenna2, tbin
    ),
    means AS (
      SELECT antenna1, antenna2,
             CAST(FLOOR(time / {STATWT_BIN_SECS!r}) AS BIGINT) AS tbin,
             CAST(SUM(CAST(ROUND(vis_re * 1000000.0) AS BIGINT)) AS BIGINT)
               / 1000000.0 / COUNT(*) AS mre,
             CAST(SUM(CAST(ROUND(vis_im * 1000000.0) AS BIGINT)) AS BIGINT)
               / 1000000.0 / COUNT(*) AS mim
      FROM vis GROUP BY 1, 2, 3
    ),
    jn AS (
      SELECT s.antenna1, s.antenna2,
             1000000.0 / s.sigma2_micro AS wgt, m.mre, m.mim
      FROM sig s JOIN means m
        ON m.antenna1 = s.antenna1 AND m.antenna2 = s.antenna2
       AND m.tbin = s.tbin
      WHERE s.sigma2_micro > 0
    )
    SELECT antenna1, antenna2,
           COUNT(*) AS n_bins_used,
           CAST(SUM(CAST(ROUND(wgt * 1000000000.0) AS BIGINT)) AS BIGINT)
             AS wsum_q,
           CAST(SUM(CAST(ROUND(mre * wgt * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / SUM(CAST(ROUND(wgt * 1000000000.0) AS BIGINT)) AS re_w,
           CAST(SUM(CAST(ROUND(mim * wgt * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / SUM(CAST(ROUND(wgt * 1000000000.0) AS BIGINT)) AS im_w
    FROM jn GROUP BY antenna1, antenna2
    ORDER BY antenna1, antenna2
"""
