"""FITS beam-cube ingest machinery: filename-schema expansion and
header → axis grids for the broadcast cube that
operators/beam.beam_cube_dde samples. Pixel I/O needs a FITS library,
which this engine does not carry.

Capability parity with /root/reference/africanus/util/beams.py
(beam_filenames :259-312, beam_grids :139-209, FitsAxes/BeamAxes :13-137)
— re-implemented from the documented FITS conventions, not ported:

- axis metadata per FORTRAN-indexed header cards NAXISj/CTYPEj/CRVALj/
  CRPIXj/CDELTj/CUNITj, with CRPIX converted to 0-based C indexing;
- DEG axes converted to radians (CRVAL and CDELT);
- optional irregular grids via G{CTYPE}{j} cards (valid only when every
  grid point is present; used as-given), else the regular affine grid
  (i − crpix)·cdelt + crval;
- beam dimensions located by CTYPE: L/X/PX, M/Y/PY, FREQ; a leading '-'
  on the caller's l_axis/m_axis override inverts that grid;
- filename schemas 'beam_$(corr)_$(reim).fits' (also bare $corr, and
  $$ as an escaped $) expanded over the CASA correlation names × re/im.

Everything here is driver-side (the beam is a single-chunk side input,
reference dask.py:177-184 ⇒ broadcast variable, SURVEY §1.4); only the
sampled lookups run distributed (operators/beam.py).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

# CASA correlation/stokes enumeration (reference util/casa_types.py:4-53)
CASA_STOKES_NAMES: dict[int, str] = {
    1: "I", 2: "Q", 3: "U", 4: "V",
    5: "RR", 6: "RL", 7: "LR", 8: "LL",
    9: "XX", 10: "XY", 11: "YX", 12: "YY",
}

_L_TYPES = ("L", "X", "PX")
_M_TYPES = ("M", "Y", "PY")


# ---------------------------------------------------------------------------
# Header → axes
# ---------------------------------------------------------------------------

@dataclass
class BeamAxis:
    name: str          # stripped CTYPE
    size: int          # NAXIS
    crval: float
    crpix: float       # 0-based (C indexing)
    cdelt: float
    unit: str          # upper-cased CUNIT; DEG already converted to RAD
    grid: list[float]  # per-pixel coordinate values


def _axis_from_header(header: dict, j: int) -> BeamAxis:
    """Build axis j (FORTRAN 1-indexed card suffix) from header cards."""
    name = str(header.get(f"CTYPE{j}", j)).strip()
    size = int(header[f"NAXIS{j}"])
    crval = float(header.get(f"CRVAL{j}", 0))
    crpix = float(header[f"CRPIX{j}"]) - 1.0  # FORTRAN → C
    cdelt = float(header.get(f"CDELT{j}", 1))
    unit = str(header.get(f"CUNIT{j}", "")).strip().upper()

    if unit == "DEG":
        crval, cdelt, unit = math.radians(crval), math.radians(cdelt), "RAD"

    # irregular grid cards G{CTYPE}{1..size}: only valid when complete;
    # taken as-given (no unit conversion), else the regular affine grid
    irreg = [header.get(f"G{name}{k}") for k in range(1, size + 1)]
    if size > 0 and all(v is not None for v in irreg):
        grid = [float(v) for v in irreg]
    else:
        grid = [(i - crpix) * cdelt + crval for i in range(size)]
    return BeamAxis(name, size, crval, crpix, cdelt, unit, grid)


def beam_axes(header: dict) -> list[BeamAxis]:
    """All NAXIS axes of a FITS(-like) header dict."""
    ndims = int(header.get("NAXIS", 0))
    return [_axis_from_header(header, j) for j in range(1, ndims + 1)]


def axis_and_sign(ax_spec: str | None, default: str | None = None) -> tuple[str, float]:
    """Split an optional '-L' style axis override into (name, sign)."""
    if not ax_spec:
        if default is None:
            raise ValueError("an axis default is required when ax_spec is empty")
        return default, 1.0
    if not isinstance(ax_spec, str):
        raise TypeError(f"axis spec must be a string, got {type(ax_spec)}")
    return (ax_spec[1:], -1.0) if ax_spec.startswith("-") else (ax_spec, 1.0)


def beam_grids(
    header: dict, l_axis: str | None = None, m_axis: str | None = None
) -> tuple[tuple[int, list[float]], tuple[int, list[float]], tuple[int, list[float]]]:
    """Locate the beam's L, M and FREQ axes and return
    ((fortran_index, grid), ...) per dimension — grid values in radians
    for angular axes, inverted when the override carries a '-' sign."""
    axes = beam_axes(header)
    l_i = m_i = f_i = None
    for i, ax in enumerate(axes):
        up = ax.name.upper()
        if up in _L_TYPES:
            l_i = i
        elif up in _M_TYPES:
            m_i = i
        elif ax.name == "FREQ":
            f_i = i
    if l_i is None:
        raise ValueError("no L/X/PX axis in FITS header")
    if m_i is None:
        raise ValueError("no M/Y/PY axis in FITS header")
    if f_i is None:
        raise ValueError("no FREQ axis in FITS header")

    l_sign = axis_and_sign(l_axis, "L")[1]
    m_sign = axis_and_sign(m_axis, "M")[1]
    return (
        (l_i + 1, [v * l_sign for v in axes[l_i].grid]),
        (m_i + 1, [v * m_sign for v in axes[m_i].grid]),
        (f_i + 1, list(axes[f_i].grid)),
    )


# ---------------------------------------------------------------------------
# Filename schema expansion
# ---------------------------------------------------------------------------

_SCHEMA_TOKEN = re.compile(
    r"\$(?:(?P<escaped>\$)"
    r"|(?P<named>[A-Za-z_][A-Za-z0-9_]*)"
    r"|\((?P<braced>[A-Za-z_][A-Za-z0-9_]*)\)"
    r"|(?P<invalid>))"
)


def _expand_schema(schema: str, subs: dict[str, str]) -> str:
    def repl(m: re.Match) -> str:
        if m.group("escaped") is not None:
            return "$"
        key = m.group("named") or m.group("braced")
        if key is None or key not in subs:
            raise ValueError(
                f"invalid FITS beam filename schema {schema!r}: use forms "
                "like 'beam_$(corr)_$(reim).fits' or 'beam_$(CORR)_$(REIM).fits'"
            )
        return subs[key]

    return _SCHEMA_TOKEN.sub(repl, schema)


def beam_filenames(
    filename_schema: str, corr_types: list[int]
) -> dict[str, tuple[str, str]]:
    """Expand a '$(corr)'/'$(reim)' schema over CASA correlation ids ×
    (re, im): {'xx': ('beam_xx_re.fits', 'beam_xx_im.fits'), ...}.
    Upper-case tokens ($(CORR)/$(REIM)) substitute upper-case values."""
    out: dict[str, tuple[str, str]] = {}
    for ct in corr_types:
        try:
            corr = CASA_STOKES_NAMES[ct].lower()
        except KeyError:
            raise ValueError(f"unknown CASA Stokes/correlation id {ct}")
        pair = tuple(
            _expand_schema(
                filename_schema,
                {"corr": corr, "CORR": corr.upper(), "reim": ri, "REIM": ri.upper()},
            )
            for ri in ("re", "im")
        )
        out[corr] = pair  # type: ignore[assignment]
    return out
