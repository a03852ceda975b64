"""FITS beam ingest machinery vs the behaviors documented in the
reference (util/beams.py:13-312; its own tests
util/tests/test_beam_utils.py drive the same cases)."""

import math

import numpy as np
import pytest

from codex_africanus_spark.sources import beams


def _header(ctype1="L", ctype2="M", gfreqs=True):
    h = {
        "NAXIS": 4,
        "NAXIS1": 65, "CTYPE1": f"{ctype1}   ", "CUNIT1": "DEG  ",
        "CDELT1": 0.01, "CRPIX1": 33, "CRVAL1": 0.02,
        "NAXIS2": 65, "CTYPE2": f"{ctype2}   ", "CUNIT2": "DEG  ",
        "CDELT2": 0.01, "CRPIX2": 33, "CRVAL2": -1e-06,
        "NAXIS3": 5, "CTYPE3": "FREQ", "CDELT3": 1e6, "CRPIX3": 1,
        "CRVAL3": 1.4e9,
        "NAXIS4": 1, "CTYPE4": "STOKES", "CDELT4": 1, "CRPIX4": 1,
        "CRVAL4": -5,
    }
    if gfreqs:
        # deliberately non-affine last point: only reachable via G cards
        vals = [1.4e9, 1.4011e9, 1.4021e9, 1.4032e9, 1.4030e9]
        for j, v in enumerate(vals, start=1):
            h[f"GFREQ{j}"] = v
    return h


def test_deg_axes_converted_to_radians():
    axes = beams.beam_axes(_header())
    assert axes[0].unit == "RAD"
    assert axes[0].crval == pytest.approx(math.radians(0.02))
    assert axes[0].cdelt == pytest.approx(math.radians(0.01))
    # CRPIX converted from FORTRAN to C indexing
    assert axes[0].crpix == 32.0


def test_irregular_freq_grid_used_when_complete():
    axes = beams.beam_axes(_header())
    assert axes[2].grid == [1.4e9, 1.4011e9, 1.4021e9, 1.4032e9, 1.4030e9]


def test_incomplete_irregular_grid_falls_back_to_regular():
    h = _header()
    del h["GFREQ4"]
    axes = beams.beam_axes(h)
    want = [(i - 0.0) * 1e6 + 1.4e9 for i in range(5)]
    assert axes[2].grid == pytest.approx(want)


@pytest.mark.parametrize("header_l", ["L", "X"])
@pytest.mark.parametrize("l_axis,sign", [(None, 1.0), ("L", 1.0), ("-L", -1.0),
                                         ("X", 1.0), ("-X", -1.0)])
def test_beam_grids_axis_discovery_and_sign(header_l, l_axis, sign):
    h = _header(ctype1=header_l)
    (li, lg), (mi, mg), (fi, fg) = beams.beam_grids(h, l_axis, None)
    assert (li, mi, fi) == (1, 2, 3)
    base = [(i - 32.0) * math.radians(0.01) + math.radians(0.02) for i in range(65)]
    np.testing.assert_allclose(lg, [v * sign for v in base], rtol=1e-12)
    assert fg == [1.4e9, 1.4011e9, 1.4021e9, 1.4032e9, 1.4030e9]


def test_beam_grids_missing_axis_errors():
    h = _header()
    h["CTYPE3"] = "VRAD"
    with pytest.raises(ValueError, match="FREQ"):
        beams.beam_grids(h)


def test_beam_filenames_braced_and_case():
    got = beams.beam_filenames("beam_$(corr)_$(reim).fits", [9, 10, 11, 12])
    assert list(got) == ["xx", "xy", "yx", "yy"]
    assert got["xy"] == ("beam_xy_re.fits", "beam_xy_im.fits")
    up = beams.beam_filenames("beam_$(CORR)_$(REIM).fits", [5, 8])
    assert up["rr"] == ("beam_RR_RE.fits", "beam_RR_IM.fits")
    assert up["ll"] == ("beam_LL_RE.fits", "beam_LL_IM.fits")


def test_beam_filenames_bare_and_escape():
    got = beams.beam_filenames("$$b_$corr.fits", [9])
    assert got["xx"] == ("$b_xx.fits", "$b_xx.fits")


def test_beam_filenames_invalid_schema():
    with pytest.raises(ValueError, match="schema"):
        beams.beam_filenames("beam_$(bogus).fits", [9])
    with pytest.raises(ValueError, match="Stokes"):
        beams.beam_filenames("beam_$(corr)_$(reim).fits", [99])
