"""RIME specification compiler — the reference's query compiler,
re-targeted at Catalyst.

Parity with /root/reference/africanus/experimental/rime/fused/:
- spec strings like ``"(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]"`` parsed
  into an ordered term list (specification.py:78-115; term regex
  ``([A-Z])(pq|p|q)`` :166-174);
- term char → Term class via a registry (K=Phase, B=Brightness, G=Gain,
  :261-266), user-extensible;
- the reference's numba IntrinsicFactory fuses term samplers into one
  LLVM loop (intrinsics.py); here each Term contributes *Column
  expressions* merged into one ``select`` — whole-stage codegen performs
  the fusion, and the source reduction is the usual deterministic
  fixed-point aggregate.

Term protocol (the Spark analogue of Term.init_fields/sampler,
terms/core.py:28-197): a Term declares `required_columns` (the
dask_schema analogue — validated at plan-build time against the joined
frame, SURVEY §1.3) and `apply(z: Cplx) -> Cplx`, composing its factor
onto the running per-(source,row,chan) coherency. `p`/`q`-sided terms
(antenna gains) join their tables and conjugate the q side, mirroring
the automatic Hermitian transpose of right terms
(specification.py:203-214).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.functions.complex_algebra import Cplx, cexp_i
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.functions.phase import phase_delay_angle, phase_path
from codex_africanus_spark.functions.shapes import gaussian
from codex_africanus_spark.functions.spectral import spectral_model

_TERM_RE = re.compile(r"([A-Z])(pq|p|q)")
_SPEC_RE = re.compile(r"^\(\s*([A-Za-z,\s]+)\s*\)\s*(?::\s*\[(.*?)\]\s*->\s*\[(.*?)\])?$")

QSCALE = 1e6


@dataclass(frozen=True)
class ParsedSpec:
    terms: tuple[tuple[str, str], ...]  # (term char, side)
    stokes: tuple[str, ...]
    corrs: tuple[str, ...]


def parse_rime(spec: str) -> ParsedSpec:
    """Parse ``"(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]"``."""
    m = _SPEC_RE.match(spec.strip())
    if not m:
        raise ValueError(f"unparseable RIME specification: {spec!r}")
    term_src, stokes_src, corr_src = m.groups()
    terms = []
    for token in (t.strip() for t in term_src.split(",")):
        tm = _TERM_RE.fullmatch(token)
        if not tm:
            raise ValueError(f"unparseable term {token!r} in {spec!r}")
        terms.append((tm.group(1), tm.group(2)))
    stokes = tuple(s.strip() for s in (stokes_src or "I,Q,U,V").split(","))
    corrs = tuple(c.strip() for c in (corr_src or "XX,XY,YX,YY").split(","))
    return ParsedSpec(tuple(terms), stokes, corrs)


class Term:
    """Expression-builder plugin. Subclasses declare required columns and
    compose a complex factor onto the running coherency.

    `prepare(df)` (default identity) lets non-expression terms attach
    columns first — e.g. a pandas-UDF beam sampler — mirroring the
    reference's split between expression-like samplers and gather-heavy
    ones (SURVEY §2.11: samplers that can't be expressions become Arrow
    pandas UDFs)."""

    required_columns: tuple[str, ...] = ()

    def validate(self, df: DataFrame) -> None:
        missing = [c for c in self.required_columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"{type(self).__name__} requires columns {missing} not present "
                f"in the joined frame (schema validation, SURVEY §1.3)"
            )

    def prepare(self, df: DataFrame) -> DataFrame:
        return df

    def apply(self, z: Cplx) -> Cplx:  # pragma: no cover - interface
        raise NotImplementedError


class PhaseTerm(Term):
    """K: e^{-2πi(ul+vm+w(n-1))ν/c} (terms/phase.py)."""

    required_columns = ("u", "v", "w", "l", "m", "n", "frequency")

    def apply(self, z: Cplx) -> Cplx:
        theta = phase_delay_angle(
            phase_path(F.col("u"), F.col("v"), F.col("w"),
                       F.col("l"), F.col("m"), F.col("n")),
            F.col("frequency"),
            "fourier",
        )
        return z * cexp_i(theta)


class BrightnessTerm(Term):
    """B: spectral-scaled Stokes-I brightness (terms/brightness.py,
    scalar-corr slice — the full 2×2 variant composes stokes.py exprs)."""

    required_columns = ("flux_i", "spi", "ref_freq", "frequency")

    def apply(self, z: Cplx) -> Cplx:
        flux = spectral_model(
            F.col("flux_i"), F.col("spi"), F.col("ref_freq"), F.col("frequency")
        )
        return z * flux


class _HoistedBrightness(Term):
    """Plan-compiler substitute for the standard BrightnessTerm when its
    (source, chan)-grain flux has been precomputed on the broadcast side
    as `__bflux` (see rime()): z · flux with the factor read instead of
    re-derived per pair. Never registered — internal to the compiler."""

    required_columns = ("__bflux",)

    def apply(self, z: Cplx) -> Cplx:
        return z * F.col("__bflux")


class GaussianShapeTerm(Term):
    """Shape envelope for GAUSSIAN sources, 1 for points."""

    required_columns = ("u", "v", "frequency", "emaj", "emin", "position_angle", "source_type")

    def apply(self, z: Cplx) -> Cplx:
        env = F.when(
            F.col("source_type") == "GAUSSIAN",
            gaussian(F.col("u"), F.col("v"), F.col("frequency"),
                     F.col("emaj"), F.col("emin"), F.col("position_angle")),
        ).otherwise(F.lit(1.0))
        return z * env


class BeamCubeTerm(Term):
    """D: direction-dependent beam gain sampled from a broadcast cube via
    an Arrow pandas UDF (reference BeamCubeDDE term; the compiler's
    escape hatch for gather-heavy samplers)."""

    required_columns = ("l", "m", "frequency")

    def __init__(self, beam: dict | None = None):
        from codex_africanus_spark.operators.beam import make_test_beam_cube

        self.beam = beam or make_test_beam_cube(extent=0.2)

    def prepare(self, df: DataFrame) -> DataFrame:
        from codex_africanus_spark.operators.beam import beam_cube_dde

        return beam_cube_dde(df, self.beam, out_col="__beam_gain")

    def apply(self, z: Cplx) -> Cplx:
        return z * F.col("__beam_gain")


class ShapeletTerm(Term):
    """S: 1-D Hermite shapelet envelope over scaled u (reference
    model/shape/shapelets.py:57-153, orders ≤ 3). Closed-form Hermite
    polynomials keep this a pure Column expression — unlike the beam and
    Zernike samplers it stays inside whole-stage codegen, and its SQL
    mirror (shapes.shapelet_1d_sql) makes specs containing it exactly
    oracle-able."""

    required_columns = ("u",)

    COEFFS = (1.0, 0.5, -0.25, 0.125)
    BETA = 1.0
    SCALE = 100.0

    def apply(self, z: Cplx) -> Cplx:
        from codex_africanus_spark.functions.shapes import shapelet_1d

        env = shapelet_1d(
            F.col("u") / F.lit(self.SCALE), list(self.COEFFS), self.BETA
        )
        return z * env


class ZernikeTerm(Term):
    """Z: Zernike-polynomial DDE gain (reference rime/zernike.py:110-198)
    — pandas-UDF sampled with broadcast coefficients, attached via
    prepare() like the beam cube."""

    required_columns = ("l", "m")

    def __init__(self, coeffs=None, noll_indices=None, extent: float = 0.2):
        self.coeffs = list(coeffs or (1.0, 0.15, -0.1, 0.05))
        self.noll = list(noll_indices or (1, 2, 3, 4))
        self.extent = extent

    def prepare(self, df: DataFrame) -> DataFrame:
        from codex_africanus_spark.operators.zernike import zernike_dde

        return zernike_dde(
            df, self.coeffs, self.noll, extent=self.extent,
            out_col="__zernike_gain",
        )

    def apply(self, z: Cplx) -> Cplx:
        return z * F.col("__zernike_gain")


class FeedRotationTerm(Term):
    """L: feed rotation (reference terms/feed_rotation.py / feeds.py).
    Circular feeds are a phase diagonal, so the composed p·qᴴ factor on
    the scalar coherency is e^{-i(pa1 - pa2)} — the first *sided* term:
    it samples per-antenna state (PA at (time, antenna1) and
    (time, antenna2)) rather than per-baseline columns. The 'test'
    ephemeris backend is closed-form, so the term stays in codegen and
    specs containing it remain exactly oracle-able; real ephemeris
    backends swap in the broadcast PA table via prepare()
    (functions/feeds.parallactic_angle_table)."""

    required_columns = ("time", "antenna1", "antenna2")

    def apply(self, z: Cplx) -> Cplx:
        from codex_africanus_spark.functions.feeds import (
            parallactic_angles_test_backend as pa_of,
        )

        pa1 = pa_of(F.col("time"), F.col("antenna1"))
        pa2 = pa_of(F.col("time"), F.col("antenna2"))
        return z * cexp_i(-(pa1 - pa2))


TERM_MAP: dict[str, type[Term]] = {
    "K": PhaseTerm,
    "B": BrightnessTerm,
    "E": GaussianShapeTerm,
    "D": BeamCubeTerm,
    "S": ShapeletTerm,
    "Z": ZernikeTerm,
    "L": FeedRotationTerm,
}


def register_term(char: str, cls: type[Term]) -> None:
    """User extensibility hook (the reference's custom-term registration,
    fused/examples/custom_brightness_term.py)."""
    TERM_MAP[char] = cls


class Transformer:
    """Derives missing argument columns from provided ones at plan-build
    time — the reference's Transformer API (transformers/core.py:18-155),
    where dask_schema-declared outputs satisfy term argument dependencies
    (fused/core.py:152-207). Spark-first, a transformer is a projection
    rule: if a term requires a column the joined frame lacks, and a
    registered transformer can produce it from columns that ARE present,
    its Column expressions are attached before term validation — still
    one fused select under whole-stage codegen."""

    outputs: tuple[str, ...] = ()
    inputs: tuple[str, ...] = ()

    def can_run(self, df: DataFrame) -> bool:
        return all(c in df.columns for c in self.inputs)

    def transform(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError


class LMTransformer(Transformer):
    """radec + phase centre → (l, m, n) (reference transformers/lm.py:8-50;
    n additionally derived since PhaseTerm consumes it, phase.py:48-52).

    l and m are quantized to 9 decimals (repo-wide engine-reproducibility
    practice for trig outputs — JVM vs libm differ at 1 ULP, which theta's
    ~1e9 frequency scaling would amplify past the aggregate's fixed-point
    grid); n is sqrt of the rounded pair, IEEE-exact hence reproducible
    without further rounding."""

    outputs = ("l", "m", "n")
    inputs = ("ra", "dec", "ra0", "dec0")
    round_dp = 9

    def transform(self, df: DataFrame) -> DataFrame:
        from codex_africanus_spark.functions.coordinates import radec_to_lmn

        l, m, _ = radec_to_lmn(
            F.col("ra"), F.col("dec"), F.col("ra0"), F.col("dec0")
        )
        df = df.withColumn("l", F.round(l, self.round_dp)).withColumn(
            "m", F.round(m, self.round_dp)
        )
        n = F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - F.col("l") * F.col("l") - F.col("m") * F.col("m"),
            )
        )
        return df.withColumn("n", n)


TRANSFORMERS: list[type[Transformer]] = [LMTransformer]


def _apply_transformers(
    df: DataFrame, needed: set[str], extra: tuple = ()
) -> DataFrame:
    """Attach derivable missing columns before term validation.

    `extra` holds per-spec transformer overrides (instances or classes)
    tried BEFORE the global registry, so a user transformer shadows a
    registered one claiming the same outputs for this plan only — the
    transformer mirror of the per-spec `terms={...}` override (reference
    fused/core.py:152-207 resolves transformer outputs per specification
    instance, not globally)."""
    missing = needed - set(df.columns)
    if not missing:
        return df
    for cls in (*extra, *TRANSFORMERS):
        if missing & set(cls.outputs):
            t = cls if isinstance(cls, Transformer) else cls()
            if t.can_run(df):
                df = t.transform(df)
                missing -= set(cls.outputs)
    return df


class MatrixTerm:
    """Sided 2×2 Jones factor applied in the post-source-reduction
    sandwich:

        V_pq = (Π_i J_i,p) · M_pq · (Π_i J_i,q)ᴴ

    with the product taken in spec order and the q side Hermitian-
    transposed — the reference's automatic transpose of right terms
    (specification.py:203-214) lifted to matrix-valued terms. The
    compiler specializes on Jones shape exactly like the reference's
    jones_mul factories (predict.py:56-190 scalar/diagonal/full cases):
    an all-diagonal chain keeps the cheap per-corr scalar sandwich;
    any full term engages the general 2×2 matmul chain."""

    diagonal = False
    required_columns: tuple[str, ...] = ()

    def prepare(self, df: DataFrame, vis: DataFrame,
                gains: DataFrame | None) -> DataFrame:
        """Attach any per-row/per-antenna state this factor samples
        (time for ephemeris terms, gain columns for G)."""
        return df

    def jones(self, side: int) -> "Jones2x2":  # pragma: no cover - interface
        raise NotImplementedError


class FeedRotationMatrixTerm(MatrixTerm):
    """R: FULL (non-diagonal) linear-feed rotation
    [[cos pa, sin pa], [−sin pa, cos pa]] per antenna (reference
    feeds.py:14-115 linear case) — the compiler's first full-2×2 sided
    term. The 'test' ephemeris backend keeps it a pure expression, so
    specs containing it stay exactly oracle-able."""

    required_columns = ("time",)

    def prepare(self, df, vis, gains):
        if "time" in df.columns:
            return df
        return df.join(
            vis.select("row_id", "antenna1", "antenna2", "chan", "time"),
            ["row_id", "antenna1", "antenna2", "chan"],
        )

    def jones(self, side: int):
        from codex_africanus_spark.functions.feeds import (
            feed_rotation,
            parallactic_angles_test_backend as pa_of,
        )

        pa = pa_of(F.col("time"), F.col(f"antenna{side}"))
        return feed_rotation(pa, "linear")


class GainMatrixTerm(MatrixTerm):
    """G: per-(antenna, chan) dual-polarization diagonal gain — the
    DIAG case of the reference's jones_mul specialization."""

    diagonal = True

    def prepare(self, df, vis, gains):
        for side in (1, 2):
            g = F.broadcast(
                gains.select(
                    F.col("antenna").alias(f"antenna{side}"), "chan",
                    F.col("gain_re").alias(f"g{side}x_re"),
                    F.col("gain_im").alias(f"g{side}x_im"),
                    F.col("gain_y_re").alias(f"g{side}y_re"),
                    F.col("gain_y_im").alias(f"g{side}y_im"),
                )
            )
            df = df.join(g, [f"antenna{side}", "chan"])
        return df

    def jones(self, side: int):
        from codex_africanus_spark.functions.complex_algebra import Cplx
        from codex_africanus_spark.functions.jones import Jones2x2

        return Jones2x2.diagonal(
            Cplx(F.col(f"g{side}x_re"), F.col(f"g{side}x_im")),
            Cplx(F.col(f"g{side}y_re"), F.col(f"g{side}y_im")),
        )


MATRIX_TERM_MAP: dict[str, type[MatrixTerm]] = {
    "G": GainMatrixTerm,
    "R": FeedRotationMatrixTerm,
}


def rime2x2(
    spec: str,
    vis: DataFrame,
    sources: DataFrame,
    gains: DataFrame | None = None,
) -> DataFrame:
    """Matrix-valued RIME compiler — the reference's fused RIME is 2×2
    Jones-valued (fused/core.py: per-corr sampler chain with Hermitian
    transpose of right terms); this compiles the same spec grammar into
    the full-correlation plan:

        V_pq = G_p · ( Σ_s  z_s · B_s ) · G_qᴴ

    where z_s is the product of the spec's scalar terms (K phase,
    E gaussian, S shapelet, Z/D samplers, L feed phase — the TERM_MAP
    plugins compose unchanged), B_s the 2×2 brightness from (I,Q,U,V)
    with spectral scaling (XX=I·s+Q, XY=U+iV, YX=U−iV, YY=I·s−Q), and
    G the sided diagonal gain sandwich applied after the source
    reduction. ``"(Kpq, Bpq, Gpq)"`` reproduces
    operators/predict.predict_full_corr bit-for-bit (tested).

    Scale shape: brightness is hoisted to the broadcast side
    (source × chan rows), one shuffle at the source reduction, gains
    broadcast twice — identical to the hand-written full-corr plan.
    """
    from codex_africanus_spark.sources.tables import fan_out

    parsed = parse_rime(spec)
    chars = [c for c, _ in parsed.terms]
    if "B" not in chars:
        raise ValueError("2x2 RIME requires a brightness term 'B' in the spec")
    if ("G" in chars) and gains is None:
        raise ValueError("spec contains gain term 'G' but no gains table given")
    matrix_chars = [c for c in chars if c != "B" and c in MATRIX_TERM_MAP]
    scalar_terms = []
    for c in chars:
        if c == "B" or c in MATRIX_TERM_MAP:
            continue
        if c not in TERM_MAP:
            raise ValueError(f"unknown RIME term {c!r}; register it first")
        scalar_terms.append(TERM_MAP[c]())

    # brightness hoisted to the broadcast side (source × chan); distinct
    # over the unfanned twin skips the fan_out exchange (tables.scan_twin)
    from codex_africanus_spark.sources.tables import scan_twin

    chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
    src_chan = (
        sources.crossJoin(chan_freq)
        .withColumn("__s", F.pow(F.col("frequency") / F.col("ref_freq"), F.col("spi")))
        .drop("frequency")
    )
    joined = fan_out(vis).join(F.broadcast(src_chan), "chan")
    for t in scalar_terms:
        t.validate(joined)
    for t in scalar_terms:
        joined = t.prepare(joined)
    z = Cplx(F.lit(1.0), F.lit(0.0))
    for t in scalar_terms:
        z = t.apply(z)

    bxx = F.col("flux_i") * F.col("__s") + F.col("flux_q")
    byy = F.col("flux_i") * F.col("__s") - F.col("flux_q")
    corr = {
        "xx": Cplx(bxx, F.lit(0.0)) * z,
        "xy": Cplx(F.col("flux_u"), F.col("flux_v")) * z,
        "yx": Cplx(F.col("flux_u"), -F.col("flux_v")) * z,
        "yy": Cplx(byy, F.lit(0.0)) * z,
    }
    coh = joined.select(
        "row_id", "antenna1", "antenna2", "chan",
        *[c.re.alias(f"{k}_re") for k, c in corr.items()],
        *[c.im.alias(f"{k}_im") for k, c in corr.items()],
    )
    model = coh.groupBy("row_id", "antenna1", "antenna2", "chan").agg(
        *[
            (qsum(F.col(f"{k}_{p}"), QSCALE) / F.lit(QSCALE)).alias(f"{k}_{p}")
            for k in ("xx", "xy", "yx", "yy")
            for p in ("re", "im")
        ]
    )
    if not matrix_chars:
        return model
    if matrix_chars != ["G"]:
        # general full-2×2 sided chain (any non-diagonal term present,
        # or a multi-term chain): V = (Π J_p) · M · (Π J_q)ᴴ
        from codex_africanus_spark.functions.jones import Jones2x2

        mterms = [MATRIX_TERM_MAP[c]() for c in matrix_chars]
        df = model
        for t in mterms:
            df = t.prepare(df, vis, gains)
        left = right = None
        for t in mterms:
            j1, j2 = t.jones(1), t.jones(2)
            left = j1 if left is None else left @ j1
            right = j2 if right is None else right @ j2
        V = Jones2x2(
            Cplx(F.col("xx_re"), F.col("xx_im")), Cplx(F.col("xy_re"), F.col("xy_im")),
            Cplx(F.col("yx_re"), F.col("yx_im")), Cplx(F.col("yy_re"), F.col("yy_im")),
        )
        out = (left @ V) @ right.hermitian()
        # + 0.0 normalizes IEEE -0.0 (sf1 sweep fork class)
        z = F.lit(0.0)
        return df.select(
            "row_id", "antenna1", "antenna2", "chan",
            (F.round(out.xx.re, 6) + z).alias("vxx_re"), (F.round(out.xx.im, 6) + z).alias("vxx_im"),
            (F.round(out.xy.re, 6) + z).alias("vxy_re"), (F.round(out.xy.im, 6) + z).alias("vxy_im"),
            (F.round(out.yx.re, 6) + z).alias("vyx_re"), (F.round(out.yx.im, 6) + z).alias("vyx_im"),
            (F.round(out.yy.re, 6) + z).alias("vyy_re"), (F.round(out.yy.im, 6) + z).alias("vyy_im"),
        )

    # all-diagonal fast path (G alone): per-corr scalar sandwich —
    # bit-identical to the hand-written predict_full_corr plan
    g1 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna1"), "chan",
            F.col("gain_re").alias("g1x_re"), F.col("gain_im").alias("g1x_im"),
            F.col("gain_y_re").alias("g1y_re"), F.col("gain_y_im").alias("g1y_im"),
        )
    )
    g2 = F.broadcast(
        gains.select(
            F.col("antenna").alias("antenna2"), "chan",
            F.col("gain_re").alias("g2x_re"), F.col("gain_im").alias("g2x_im"),
            F.col("gain_y_re").alias("g2y_re"), F.col("gain_y_im").alias("g2y_im"),
        )
    )
    df = model.join(g1, ["antenna1", "chan"]).join(g2, ["antenna2", "chan"])

    def sandwich(corr_key, g1p, g2p):
        m = Cplx(F.col(f"{corr_key}_re"), F.col(f"{corr_key}_im"))
        out = (
            Cplx(F.col(f"{g1p}_re"), F.col(f"{g1p}_im"))
            * m
            * Cplx(F.col(f"{g2p}_re"), F.col(f"{g2p}_im")).conj()
        )
        # + 0.0 normalizes IEEE -0.0 (sf1 sweep fork class)
        return (
            F.round(out.re, 6) + F.lit(0.0),
            F.round(out.im, 6) + F.lit(0.0),
        )

    xx, xy = sandwich("xx", "g1x", "g2x"), sandwich("xy", "g1x", "g2y")
    yx, yy = sandwich("yx", "g1y", "g2x"), sandwich("yy", "g1y", "g2y")
    return df.select(
        "row_id", "antenna1", "antenna2", "chan",
        xx[0].alias("vxx_re"), xx[1].alias("vxx_im"),
        xy[0].alias("vxy_re"), xy[1].alias("vxy_im"),
        yx[0].alias("vyx_re"), yx[1].alias("vyx_im"),
        yy[0].alias("vyy_re"), yy[1].alias("vyy_im"),
    )


def rime(
    spec: str,
    vis: DataFrame,
    sources: DataFrame,
    terms: dict[str, "Term | type[Term]"] | None = None,
    transformers: tuple = (),
) -> DataFrame:
    """Compile a RIME spec into one select + one deterministic aggregate.

    Returns (row_id, antenna1, antenna2, chan, vis_re, vis_im) — the
    source-reduced model visibilities.

    `terms` maps a spec character to a user Term (instance or class),
    overriding the registry FOR THIS SPEC ONLY — the reference's
    ``RimeSpecification(rime_str, terms={"B": ModelFlux})`` constructor
    argument (fused/specification.py + the custom_brightness_term.py
    example), which substitutes a custom term without mutating the
    global registry.

    `transformers` likewise injects user Transformers (instances or
    classes) FOR THIS SPEC ONLY, tried before the global registry when
    resolving a term's missing argument columns — the reference's
    per-specification transformer resolution (transformers/core.py +
    fused/core.py:152-207; ParallacticTransformer in
    transformers/parangle.py is the canonical example)."""
    from codex_africanus_spark.sources.tables import fan_out, scan_twin

    parsed = parse_rime(spec)
    overrides = terms or {}
    terms = []
    for char, _side in parsed.terms:
        if char in overrides:
            t = overrides[char]
            terms.append(t if isinstance(t, Term) else t())
        elif char in TERM_MAP:
            terms.append(TERM_MAP[char]())
        else:
            raise ValueError(f"unknown RIME term {char!r}; register it first")
    # r14 Arrow/numpy source-fold tier (guide §4): a spec whose terms are
    # EXACTLY the standard {K, B} or {K, B, E} classes (no overrides —
    # exact type checks, the _HoistedBrightness discipline — and no
    # per-spec transformers) computes the same quantized addend multiset
    # as predict_point_vis: flux·env·e^{iθ} summed on the 1e-6 grid.
    # Term order only permutes the JVM double-multiplication association,
    # which the fixed-point grid absorbs (locked bit-for-bit vs this
    # compiled path at every driver-verified scale by
    # tests/test_round14_arrow_predict.py).
    term_types = [type(t) for t in terms]
    if (
        not transformers
        and len(term_types) == len(set(term_types))
        and set(term_types) in ({PhaseTerm, BrightnessTerm},
                                {PhaseTerm, BrightnessTerm, GaussianShapeTerm})
    ):
        from codex_africanus_spark.operators import predict_arrow

        folded = predict_arrow.point_fold(
            vis, sources, GaussianShapeTerm in term_types,
            names=("vis_re", "vis_im"),
        )
        if folded is not None:
            return folded
    # r13 loop-invariant hoist (guide §1.2): the STANDARD BrightnessTerm
    # multiplies z by a real flux that depends only on (source, chan) —
    # evaluate its pow() once per (source, chan) on the broadcast side
    # (sources × distinct chans) and join on chan, instead of one POWER
    # per source×row pair (measured: rime_compiled's expansion stage
    # burned 43 s executor time vs predict_vis's 17 s for the same pair
    # count). Bit-identical: the factor is the same expression on the
    # same doubles, multiplied into z at the same position; the chan
    # join yields the identical pair multiset (frequency is functionally
    # determined by chan). Custom/overridden B terms (exact subclass
    # check) keep the fully general per-pair path.
    hoist_b = [i for i, t in enumerate(terms) if type(t) is BrightnessTerm]
    if hoist_b:
        chan_freq = scan_twin(vis).select("chan", "frequency").distinct()
        bsrc = (
            sources.crossJoin(chan_freq)
            .withColumn(
                "__bflux",
                spectral_model(
                    F.col("flux_i"), F.col("spi"),
                    F.col("ref_freq"), F.col("frequency"),
                ),
            )
            .drop("frequency")
        )
        joined = fan_out(vis).join(F.broadcast(bsrc), "chan")
        for i in hoist_b:
            terms[i] = _HoistedBrightness()
    else:
        joined = fan_out(vis).crossJoin(F.broadcast(sources))
    # argument-dependency resolution: transformers fill derivable gaps
    # before schema validation (fused/core.py:152-207); per-spec
    # overrides shadow the global registry
    joined = _apply_transformers(
        joined, {c for t in terms for c in t.required_columns}, transformers
    )
    for term in terms:
        term.validate(joined)
    for term in terms:
        joined = term.prepare(joined)
    z = Cplx(F.lit(1.0), F.lit(0.0))
    for term in terms:
        z = term.apply(z)
    coh = joined.select("row_id", "antenna1", "antenna2", "chan",
                        z.re.alias("coh_re"), z.im.alias("coh_im"))
    return coh.groupBy("row_id", "antenna1", "antenna2", "chan").agg(
        (qsum(F.col("coh_re"), QSCALE) / F.lit(QSCALE)).alias("vis_re"),
        (qsum(F.col("coh_im"), QSCALE) / F.lit(QSCALE)).alias("vis_im"),
    )
