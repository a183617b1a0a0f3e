"""Vendored CRS control-point fixtures (round 7, VERDICT r6 item 5).

The closed-form registry's NUMERICS are asserted against a vendored
mini-transform table (tests/fixtures/crs_control_points.json): every
projection's defining anchor (natural origin -> false easting/northing,
EPSG registry parameters) must reproduce to tol_m metres, every fixture
point must round-trip 4326 -> crs -> 4326 to < 1e-6 deg, and the
pyproj pandas_udf fallback seam must transport the table's values
bit-true through Arrow (so when a real pyproj is installed the seam's
numerics — not just its plumbing — are already pinned).
"""

from __future__ import annotations

import json
import os

import pytest

from xcube_spark.operators.resampling.reproject import (
    apply_transform_df,
    get_transform,
)

_FIX = os.path.join(os.path.dirname(__file__), "fixtures",
                    "crs_control_points.json")


def _load():
    with open(_FIX) as f:
        return json.load(f)


def test_anchor_forward_matches_registry_constants(spark):
    fx = _load()
    by_crs: dict[str, list[dict]] = {}
    for a in fx["anchors"]:
        by_crs.setdefault(a["crs"], []).append(a)
    for crs, anchors in by_crs.items():
        fwd = get_transform("EPSG:4326", crs)
        df = spark.createDataFrame(
            [(a["lon"], a["lat"]) for a in anchors],
            "lon double, lat double")
        out = apply_transform_df(df, fwd, "lon", "lat",
                                 "px", "py")
        got = {(r.lon, r.lat): (r.px, r.py) for r in out.collect()}
        for a in anchors:
            px, py = got[(a["lon"], a["lat"])]
            assert abs(px - a["x"]) <= a["tol_m"], (crs, a, px)
            assert abs(py - a["y"]) <= a["tol_m"], (crs, a, py)


def test_roundtrip_under_1e6_deg(spark):
    """4326 -> crs -> 4326 must reproduce lon/lat to < 1e-6 deg on
    every fixture point (the pole rows skip the lon check: longitude
    is undefined there)."""
    fx = _load()
    for crs, grid in fx["roundtrip"].items():
        fwd = get_transform("EPSG:4326", crs)
        inv = get_transform(crs, "EPSG:4326")
        pts = [(float(lon), float(lat))
               for lon in grid["lons"] for lat in grid["lats"]]
        df = spark.createDataFrame(pts, "lon double, lat double")
        d = apply_transform_df(df, fwd, "lon", "lat",
                               "px", "py")
        d = apply_transform_df(d, inv, "px", "py",
                               "rlon", "rlat")
        for r in d.collect():
            assert abs(r.rlat - r.lat) < 1e-6, (crs, r)
            if abs(r.lat) < 89.999999:
                assert abs(r.rlon - r.lon) < 1e-6, (crs, r)


def test_pyproj_fallback_transports_table_numerics(spark, monkeypatch):
    """Stub pyproj with a Transformer backed by the vendored anchor
    table: the pandas_udf fallback must deliver the exact fixture
    values — the seam adds no numeric error of its own."""
    import sys
    import types

    import numpy as np

    from xcube_spark.operators.resampling import reproject as rp

    fx = _load()
    anchors = [a for a in fx["anchors"] if a["crs"] == "EPSG:3035"]
    table = {(a["lon"], a["lat"]): (a["x"], a["y"]) for a in anchors}
    # extend with the LAEA fixture's roundtrip lattice mapped through
    # OUR closed form once, so the stub's table is a superset the UDF
    # must reproduce verbatim (values, not formulas, cross the seam)
    fwd = get_transform("EPSG:4326", "EPSG:3035")
    grid = fx["roundtrip"]["EPSG:3035"]
    pts = [(float(lon), float(lat))
           for lon in grid["lons"] for lat in grid["lats"]]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for r in apply_transform_df(df, fwd, "lon", "lat",
                                "px", "py").collect():
        table[(r.lon, r.lat)] = (r.px, r.py)

    class _TableTransformer:
        @staticmethod
        def transform(x, y):
            ox = np.empty_like(x, dtype=float)
            oy = np.empty_like(y, dtype=float)
            for i, (xi, yi) in enumerate(zip(x, y)):
                ox[i], oy[i] = table[(float(xi), float(yi))]
            return ox, oy

    fake = types.ModuleType("pyproj")

    class _Factory:
        @staticmethod
        def from_crs(src, dst, always_xy=False):
            assert (src, dst) == ("EPSG:4326", "ESRI:99999")
            return _TableTransformer()

    fake.Transformer = _Factory
    monkeypatch.setitem(sys.modules, "pyproj", fake)

    tf = rp.get_transform("EPSG:4326", "ESRI:99999")  # not in registry
    all_pts = sorted(table)
    pdf = spark.createDataFrame(list(all_pts), "lon double, lat double")
    rows = rp.apply_transform_df(pdf, tf, "lon", "lat", "px",
                                 "py").collect()
    assert len(rows) == len(table)
    for r in rows:
        ex, ey = table[(r.lon, r.lat)]
        assert r.px == ex and r.py == ey  # bit-true through Arrow
