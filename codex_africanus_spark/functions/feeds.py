"""Feed rotation and parallactic angles.

- feed_rotation: 2×2 rotation Jones per parallactic angle
  (/root/reference/africanus/rime/feeds.py:14-115): linear feeds give the
  real rotation matrix [[cos pa, sin pa], [−sin pa, cos pa]]; circular
  feeds the phase diagonal [[e^{−i·pa}, 0], [0, e^{i·pa}]]. Pure Column
  expressions.
- parallactic_angles: per-(time, antenna) PA. The reference's 'casa' and
  'astropy' backends need ephemeris libraries (parangles_casa.py,
  parangles_astropy.py) which are driver-side only; the 'test' backend is
  an arithmetic placeholder. Architecture per SURVEY §2.8: compute the
  small distinct-(time, antenna) table on the driver (or as expressions
  for the test backend) and broadcast-join it — the table is
  n_utime × n_ant, never large.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codex_africanus_spark.functions.complex_algebra import Cplx, cexp_i, clit
from codex_africanus_spark.functions.jones import Jones2x2
from codex_africanus_spark.sources.tables import local_frame


def feed_rotation(pa: Column, feed_type: str = "linear") -> Jones2x2:
    if feed_type == "linear":
        zero = F.lit(0.0)
        return Jones2x2(
            Cplx(F.cos(pa), zero), Cplx(F.sin(pa), zero),
            Cplx(-F.sin(pa), zero), Cplx(F.cos(pa), zero),
        )
    if feed_type == "circular":
        z = clit(0.0)
        return Jones2x2(cexp_i(-pa), z, z, cexp_i(pa))
    raise ValueError(f"feed_type must be linear|circular, got {feed_type!r}")


def parallactic_angles_test_backend(time: Column, antenna: Column) -> Column:
    """The reference's 'test' backend formula: a deterministic function of
    (time, antenna) used for pipeline validation (parangles.py 'test')."""
    return F.sin((time % F.lit(86400.0)) / F.lit(86400.0) * F.lit(6.283185307179586)) * (
        F.lit(0.1) + antenna / F.lit(100.0)
    )


def parallactic_angle_table(
    vis: DataFrame, n_ant: int, backend: str = "test"
) -> DataFrame:
    """Distinct-(time, antenna) PA dimension table (broadcast side input).

    For 'casa'/'astropy' backends, compute the same table driver-side
    with the external ephemeris library and `sources.tables.local_frame` it —
    the join shape downstream is identical (the reference isolates
    casacore in a spawned process pool for the same reason,
    fused/transformers/parangle.py).
    """
    if backend != "test":
        raise NotImplementedError(
            "ephemeris backends (casa/astropy) are driver-side precompute; "
            "not available in this container"
        )
    times = vis.select("time").distinct()
    ants = vis.sparkSession.range(n_ant).select(F.col("id").cast("int").alias("antenna"))
    return times.crossJoin(ants).select(
        "time",
        "antenna",
        parallactic_angles_test_backend(F.col("time"), F.col("antenna")).alias("pa"),
    )


# Geometric (ephemeris-free) parallactic angle backend ----------------------
#
# The reference's production backends (casa: parangles_casa.py:1-63,
# astropy: parangles_astropy.py:1-41) need an ephemeris library that is
# absent in this container.  The geometric backend below uses only public
# spherical astronomy: GMST from the USNO linear approximation of the
# Earth rotation angle, geocentric lat/lon from ITRF XYZ, and the
# standard hour-angle parallactic-angle formula
#   PA = atan2(cos φ · sin H, sin φ · cos δ − cos φ · sin δ · cos H).
# It is pure trig arithmetic ⇒ Column expressions under whole-stage
# codegen, with a textually-mirrored SQL oracle.  When astropy IS present
# (driver env), `astropy_parallactic_angle_table` precomputes the exact
# CIRS-frame table driver-side and broadcasts it — identical join shape.

_J2000_MJD_S = 51544.5 * 86400.0  # MJD seconds of J2000.0
_GMST0 = 4.894961212823059        # GMST at J2000 (18.697374558 h) in rad
_GMST_RATE = 6.300388098984891    # rad per day (24.06570982441908 h/day)
_TWO_PI = 6.283185307179586


def parallactic_angle_geometric(
    time: Column, x: Column, y: Column, z: Column, ra: Column, dec: Column
) -> Column:
    """PA(time, antenna ITRF xyz, field centre) — ephemeris-free.

    `time` is MJD seconds (reference parangles.py:29-31).  The GMST
    product is explicitly reduced mod 2π with fmod (IEEE-exact, so Spark
    and the SQL oracle agree bitwise) before the trig."""
    days = (time - F.lit(_J2000_MJD_S)) / F.lit(86400.0)
    gmst = (F.lit(_GMST0) + F.lit(_GMST_RATE) * days) % F.lit(_TWO_PI)
    lon = F.atan2(y, x)
    lat = F.atan2(z, F.sqrt(x * x + y * y))
    ha = gmst + lon - ra
    return F.atan2(
        F.cos(lat) * F.sin(ha),
        F.sin(lat) * F.cos(dec) - F.cos(lat) * F.sin(dec) * F.cos(ha),
    )


def elevation_angle_geometric(
    time: Column, x: Column, y: Column, z: Column, ra: Column, dec: Column
) -> Column:
    """Source elevation above the horizon for an antenna at ITRF xyz —
    the same ephemeris-free spherical-astronomy backend as
    `parallactic_angle_geometric` (GMST → hour angle → alt-az):
    sin(el) = sin φ sin δ + cos φ cos δ cos H. The casacore production
    path derives the identical quantity from MDirection AZEL
    (reference parangles_casa.py:34-54 uses the same frames)."""
    days = (time - F.lit(_J2000_MJD_S)) / F.lit(86400.0)
    gmst = (F.lit(_GMST0) + F.lit(_GMST_RATE) * days) % F.lit(_TWO_PI)
    lon = F.atan2(y, x)
    lat = F.atan2(z, F.sqrt(x * x + y * y))
    ha = gmst + lon - ra
    return F.asin(
        F.sin(lat) * F.sin(dec) + F.cos(lat) * F.cos(dec) * F.cos(ha)
    )


def elevation_angle_geometric_sql(
    time: str, x: str, y: str, z: str, ra: str, dec: str
) -> str:
    """Textual SQL mirror of `elevation_angle_geometric` (same literal
    discipline as parallactic_angle_geometric_sql)."""
    days = f"((({time}) - CAST({_J2000_MJD_S} AS DOUBLE)) / 86400.0)"
    gmst = (
        f"((CAST({_GMST0} AS DOUBLE) + CAST({_GMST_RATE} AS DOUBLE) * {days})"
        f" % CAST({_TWO_PI} AS DOUBLE))"
    )
    lon = f"atan2({y}, {x})"
    lat = f"atan2({z}, sqrt(({x})*({x}) + ({y})*({y})))"
    ha = f"({gmst} + {lon} - ({ra}))"
    return (
        f"asin(sin({lat}) * sin({dec}) + cos({lat}) * cos({dec}) * cos({ha}))"
    )


def parallactic_angle_geometric_sql(
    time: str, x: str, y: str, z: str, ra: str, dec: str
) -> str:
    # explicit DOUBLE casts: DuckDB parses bare decimal literals as
    # DECIMAL and does decimal modulo, which diverges from IEEE fmod
    days = f"((({time}) - CAST({_J2000_MJD_S} AS DOUBLE)) / 86400.0)"
    gmst = (
        f"((CAST({_GMST0} AS DOUBLE) + CAST({_GMST_RATE} AS DOUBLE) * {days})"
        f" % CAST({_TWO_PI} AS DOUBLE))"
    )
    lon = f"atan2({y}, {x})"
    lat = f"atan2({z}, sqrt(({x})*({x}) + ({y})*({y})))"
    ha = f"({gmst} + {lon} - ({ra}))"
    return (
        f"atan2(cos({lat}) * sin({ha}), "
        f"sin({lat}) * cos({dec}) - cos({lat}) * sin({dec}) * cos({ha}))"
    )


try:  # exact ephemeris backend — driver-side precompute, astropy optional
    import astropy  # noqa: F401

    HAVE_ASTROPY = True
except ImportError:
    HAVE_ASTROPY = False


def astropy_parallactic_angle_table(spark, times, antenna_positions, field_centre):
    """Exact CIRS-frame PA table (time × ant), computed driver-side with
    astropy exactly as the reference does (parangles_astropy.py:22-41)
    and returned as a small broadcast-able DataFrame.  The distinct
    (time, ant) grid is n_utime × n_ant — never large; this mirrors the
    reference isolating its ephemeris in a spawned process pool
    (fused/transformers/parangle.py)."""
    if not HAVE_ASTROPY:
        raise NotImplementedError(
            "astropy not installed; use backend='geometric' or 'test'"
        )
    from astropy import units
    from astropy.coordinates import CIRS, AltAz, EarthLocation, SkyCoord
    from astropy.time import Time

    t = Time([tt / 86400.0 for tt in times], format="mjd", scale="utc")
    ap = EarthLocation.from_geocentric(
        [p[0] for p in antenna_positions],
        [p[1] for p in antenna_positions],
        [p[2] for p in antenna_positions],
        unit="m",
    )
    fc = SkyCoord(ra=field_centre[0], dec=field_centre[1], unit=units.rad, frame="fk5")
    pole = SkyCoord(ra=0, dec=90, unit=units.deg, frame="fk5")
    cirs = CIRS(obstime=t)
    pole_cirs = pole.transform_to(cirs)
    fc_cirs = fc.transform_to(cirs)
    altaz = AltAz(location=ap[None, :], obstime=t[:, None])
    pa = fc_cirs[:, None].transform_to(altaz).position_angle(
        pole_cirs[:, None].transform_to(altaz)
    )
    rows = [
        (float(times[i]), int(a), float(pa[i, a].rad))
        for i in range(len(times))
        for a in range(len(antenna_positions))
    ]
    return local_frame(spark, rows, "time double, antenna int, pa double")


def transform_sources(
    l: Column, m: Column, pa: Column, ant_scale: Column | None = None
) -> tuple[Column, Column]:
    """Rotate (and optionally scale) source lm by the parallactic angle —
    per-(source,time,ant) pointing transform (reference
    rime/transform.py:47-99)."""
    lt = l * F.cos(pa) - m * F.sin(pa)
    mt = l * F.sin(pa) + m * F.cos(pa)
    if ant_scale is not None:
        lt, mt = lt * ant_scale, mt * ant_scale
    return lt, mt
