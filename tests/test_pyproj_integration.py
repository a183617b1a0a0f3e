"""REAL-pyproj integration tests (round-9 verdict item 3; finishes
the r7 task-8 seam).

The build container has no pyproj, so these skip there — run them in
an environment WITH pyproj (``pip install pyproj`` then
``pytest -m pyproj``) to exercise:

1. the pandas_udf pyproj fallback's NUMERICS (the seam tests in
   test_resampling.py pin the plumbing with a stub transformer; this
   asserts the real library flows through the UDF unchanged), and
2. a cross-check of EVERY closed-form CRS family against pyproj on
   the exact margin-guarded gate grids the oracles use.

Reference seam: xcube/core/gridmapping/transform.py (the reference
delegates ALL projection math to pyproj; this engine derives it from
Snyder/EPSG closed forms, so pyproj is the natural independent
referee).
"""

from __future__ import annotations

import math

import pytest

pyproj = pytest.importorskip("pyproj")

pytestmark = pytest.mark.pyproj


#: engine CRS key -> pyproj-resolvable definition, for the families
#: registered under engine-local PROJ:* keys (no authority code
#: exists in upstream registries)
_PYPROJ_DEFS = {
    "PROJ:HAMMER": "+proj=hammer +a=6378137 +b=6378137 +units=m",
    "PROJ:NATEARTH": "+proj=natearth +a=6378137 +b=6378137 +units=m",
    "PROJ:IGH": "+proj=igh +a=6378137 +b=6378137 +units=m",
}

#: per-CRS max |deg| deviation vs pyproj.  Default is 1e-6 (closed
#: forms vs PROJ's own closed forms, sub-ulp-to-rounding agreement);
#: looser entries are documented upstream differences:
#: - ESRI:54030 Robinson: PROJ interpolates the published 5-degree
#:   table with ITS OWN spline coefficients; engine uses a natural
#:   cubic solved at import -> expected few-meter (~1e-4 deg) spread
#:   between interpolants, both exact at the nodes.
#: - EPSG:27700/2193 etc. (datum-hop CRSs): pyproj may apply grid
#:   shifts (OSTN15, NTv2) where the engine applies the published
#:   7-param Helmert -> up to a few meters over the gate windows.
#: - PROJ:IGH Goode homolosine: the engine solves the Mollweide
#:   continuity offset exactly (0.0528035274542, the GCTP value);
#:   PROJ builds have shipped the truncated classical constant
#:   0.05280 -> up to ~2e-4 deg spread in the Mollweide lobes.
_TOLERANCES = {
    "ESRI:54030": 5e-3,
    "PROJ:IGH": 5e-4,
    "EPSG:27700": 1e-4,
    "EPSG:2193": 5e-5,
    "EPSG:28992": 5e-5,
    "EPSG:2056": 5e-5,
    "EPSG:5514": 5e-5,
    "EPSG:30200": 1e-4,
    "EPSG:29101": 5e-5,
    "EPSG:2154": 5e-5,
    "EPSG:5070": 5e-5,
    "EPSG:29873": 1e-4,
}
_DEFAULT_TOL = 1e-6


def _gate_grids():
    """Every module-level CubeGrid in the reprojection query module
    whose CRS is projected — the exact windows the oracle gates use."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.queries import resampling_ops as q

    out = []
    for name in dir(q):
        g = getattr(q, name)
        if isinstance(g, CubeGrid) and g.crs.upper() != "EPSG:4326":
            out.append((name, g))
    return out


def _centers(grid, limit=1600):
    pts = []
    for yi in range(grid.height):
        for xi in range(grid.width):
            pts.append((grid.x_start + (xi + 0.5) * grid.x_res,
                        grid.y_start + (yi + 0.5) * grid.y_res))
    return pts[:limit]


def test_pyproj_fallback_udf_numerics(spark):
    """An unregistered CRS pair (interrupted Goode homolosine) routes
    through the pandas_udf fallback; its results must equal a direct
    pyproj.Transformer call bit-for-bit (same library, Arrow round
    trip must not perturb doubles)."""
    from xcube_spark.operators.resampling.reproject import (
        apply_transform_df, get_transform)

    tf_engine = get_transform("EPSG:4326", "ESRI:54052")
    tf_direct = pyproj.Transformer.from_crs(
        "EPSG:4326", "ESRI:54052", always_xy=True)

    pts = [(lon, lat) for lon in range(-170, 171, 20)
           for lat in range(-80, 81, 10)]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in pts], "lon double, lat double")
    rows = apply_transform_df(df, tf_engine, "lon", "lat", "x",
                              "y").collect()
    for r in rows:
        ex, ey = tf_direct.transform(r.lon, r.lat)
        assert r.x == pytest.approx(ex, abs=1e-6)
        assert r.y == pytest.approx(ey, abs=1e-6)


def test_closed_form_families_match_pyproj(spark):
    """Every closed-form family inverse (engine CRS -> EPSG:4326)
    agrees with pyproj on its own margin-guarded gate grid within the
    per-family tolerance above.  Families pyproj cannot resolve in
    this environment are collected and reported, not silently
    dropped."""
    from xcube_spark.operators.resampling.reproject import (
        apply_transform_df, get_transform)

    grids = _gate_grids()
    assert grids, "no gate grids found to cross-check"
    unresolved = []
    checked = 0
    for name, grid in grids:
        crs_def = _PYPROJ_DEFS.get(grid.crs.upper(), grid.crs)
        try:
            tf_ref = pyproj.Transformer.from_crs(
                crs_def, "EPSG:4326", always_xy=True)
        except Exception as exc:  # CRS not in this pyproj build
            unresolved.append((name, grid.crs, str(exc)))
            continue
        tol = _TOLERANCES.get(grid.crs.upper(), _DEFAULT_TOL)
        inv = get_transform(grid.crs, "EPSG:4326")
        pts = _centers(grid)
        df = spark.createDataFrame(pts, "px double, py double")
        got = apply_transform_df(
            df, inv, "px", "py", "lon", "lat"
        ).select("px", "py", "lon", "lat").collect()
        exp = {}
        for px, py in pts:
            lon, lat = tf_ref.transform(px, py)
            exp[(px, py)] = (lon, lat)
        worst = 0.0
        for r in got:
            elon, elat = exp[(r.px, r.py)]
            if math.isnan(elon) or math.isnan(elat):
                continue  # outside pyproj's domain (engine clamps)
            worst = max(worst, abs(r.lon - elon), abs(r.lat - elat))
        assert worst < tol, (
            f"{name} ({grid.crs}): max deviation {worst:.3e} deg vs "
            f"pyproj exceeds {tol:.1e}")
        checked += 1
    # the sweep must actually have verified the registry, not skipped it
    assert checked >= 20, (
        f"only {checked} families resolvable; unresolved: {unresolved}")
