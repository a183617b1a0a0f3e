"""CRS reprojection — xcube/core/resampling/reproject.py:27-507.

``reproject_dataset``: resample a regular-grid cube in CRS A onto a
regular grid in CRS B.  The reference transforms, per target block, the
target cell centers into the source CRS with pyproj, then gathers the
nearest source pixel (reproject.py:360-430).  Spark mapping: the same
**target-driven gather join** as affine — synthesize the target cell
table (``spark.range``), transform its centers into the source CRS,
compute source indices and equi-join the source cells.  The target
table is bounded by the requested output size and is broadcast, so
the source never shuffles.

**Transforms are data.**  Each projection family writes each direction
(to lon/lat, from lon/lat) ONCE, as a :class:`Transform`: a list of
named stages over the tiny expression type of :mod:`.sqlexpr` (its
constructors mirror ``pyspark.sql.functions``; imported here as
``X``).  A closed-form family is one stage (:func:`single`); a family
with a fixed-count iterative solve or a datum hop is several
(:func:`staged`) — one aliased column per intermediate, because
re-inlining a deep subtree per reference grows the expression
exponentially.  A pair of
CRSs chains through EPSG:4326 by concatenating the two stage lists
(:meth:`Transform.then`).

The same stages render to two dialects:

* Spark SQL — :func:`apply_transform_df`, the one way to run a
  transform: one ``withColumns`` of ``F.expr`` strings per stage (one
  server-side parse instead of hundreds of Column-API py4j calls);
* DuckDB SQL — :func:`lonlat_sql`, the CTE chain the oracles of the
  ``cube_reproject_*`` queries select their lon/lat from.

**The persist barrier.**  ``reproject_dataset`` persists the target
table exactly when the transform is ``deep`` (built by
:func:`staged`, or chained with such a leg): Dynamic Partition
Pruning's alias-lineage walk goes exponential on long alias chains,
and the persisted table is a leaf it stops at.  Closed-form
transforms (and chains of them) get no barrier; a single-stage one
runs as one projection with the inputs inlined.

**Adding a family.**  Register its parameters in a ``*_PARAMS`` table
(and in :mod:`.crsparse` for PROJ.4/CF spellings), write
``_lonlat_to_<fam>_fn(crs)`` and ``_<fam>_to_lonlat_fn(crs)``
returning :func:`single` or :func:`staged` transforms, add that
triple to ``_FAMILIES``, and give the family a ``cube_reproject_*``
gate query: the dialect-parity test samples every family on its gate
grid in both engines.  CRS pairs no family covers fall back to pyproj
inside a ``pandas_udf`` when pyproj is installed.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.operators.resampling import sqlexpr as X
from xcube_spark.operators.resampling.sqlexpr import E

#: a stage: new column name -> expression over earlier names
Stage = dict[str, E]

@dataclass(frozen=True)
class Transform:
    """(x, y) -> (x', y') as named stages; see the module docstring.
    ``deep`` marks a staged transform (iterative solve or datum hop),
    which ``reproject_dataset`` materializes behind a persist barrier."""

    stages: tuple[Stage, ...]
    deep: bool = False
    #: pyproj ``pandas_udf`` (-> struct<x, y>) for a CRS pair no family
    #: covers; such a transform has no stages
    udf: Callable | None = None

    def then(self, other: "Transform") -> "Transform":
        """This transform followed by ``other`` (the 4326 hop): the two
        stage lists concatenated, this one's outputs renamed to
        ``__mid_x``/``__mid_y`` and ``other``'s inputs read from them."""
        *head, last = self.stages
        mid = {"__out_x": "__mid_x", "__out_y": "__mid_y"}
        ins = {"__in_x": X.col("__mid_x"), "__in_y": X.col("__mid_y")}
        return Transform(
            (*head, {mid.get(n, n): e for n, e in last.items()},
             *({n: e.subst(ins) for n, e in st.items()}
               for st in other.stages)),
            self.deep or other.deep)


def single(fn: Callable[[E, E], tuple[E, E]]) -> Transform:
    """A closed-form transform: ``fn(x, y) -> (x', y')`` as ONE stage."""
    x, y = fn(X.col("__in_x"), X.col("__in_y"))
    return Transform(({"__out_x": x, "__out_y": y},))


def staged(stages: list[dict[str, Callable[[dict], E]]]) -> Transform:
    """A multi-stage transform; each stage maps a name to ``fn(env)``,
    ``env`` giving the columns of earlier stages by name."""
    env = _Refs()
    *head, last = ({n: fn(env) for n, fn in st.items()} for st in stages)
    assert set(last) == {"__out_x", "__out_y"}
    assert not any({"__out_x", "__out_y"} & set(st) for st in head)
    return Transform((*head, last), deep=True)


class _Refs(dict):
    def __missing__(self, name: str) -> E:
        return X.col(name)


_R = 6378137.0  # WGS84 spherical radius used by EPSG:3857

_IDENTITY = single(lambda x, y: (x, y))


def _lonlat_to_mercator(x: E, y: E) -> tuple[E, E]:
    """EPSG:4326 -> EPSG:3857, closed-form."""
    mx = x * X.lit(math.pi * _R / 180.0)
    lat = X.when(y > 89.9999, 89.9999).when(y < -89.9999, -89.9999) \
        .otherwise(y)
    my = X.log(X.tan(X.lit(math.pi / 4.0) + X.radians(lat) / 2)) \
        * X.lit(_R)
    return mx, my


def _mercator_to_lonlat(x: E, y: E) -> tuple[E, E]:
    """EPSG:3857 -> EPSG:4326, closed-form inverse."""
    lon = x / X.lit(math.pi * _R / 180.0)
    lat = X.degrees(X.atan(X.sinh(y / X.lit(_R))))
    return lon, lat


# ---- transverse Mercator / UTM (closed-form Krueger series) -----------
#
# The reference reprojects UTM scenes — the most common satellite
# product CRS — through pyproj (core/gridmapping/transform.py).  pyproj
# is not in this container, so the ellipsoidal transverse-Mercator
# forward/inverse is implemented directly from the published
# Krueger/Karney series (public math; 3rd order in n — truncation error
# ~1e-4 m over the UTM domain, far below any satellite pixel).  One
# closed-form stage: the whole transform stays inside whole-stage
# codegen, no UDF, no library.

_F_WGS84 = 1.0 / 298.257223563
_N3 = _F_WGS84 / (2.0 - _F_WGS84)  # third flattening n
_E_WGS84 = math.sqrt(_F_WGS84 * (2.0 - _F_WGS84))  # eccentricity
#: rectifying radius A = a/(1+n) (1 + n^2/4 + n^4/64)
_A_RECT = _R / (1.0 + _N3) * (1.0 + _N3 ** 2 / 4.0 + _N3 ** 4 / 64.0)
_K0 = 0.9996
#: Krueger series coefficients (3rd order in n)
_ALPHA = (
    _N3 / 2.0 - 2.0 * _N3 ** 2 / 3.0 + 5.0 * _N3 ** 3 / 16.0,
    13.0 * _N3 ** 2 / 48.0 - 3.0 * _N3 ** 3 / 5.0,
    61.0 * _N3 ** 3 / 240.0,
)
_BETA = (
    _N3 / 2.0 - 2.0 * _N3 ** 2 / 3.0 + 37.0 * _N3 ** 3 / 96.0,
    _N3 ** 2 / 48.0 + _N3 ** 3 / 15.0,
    17.0 * _N3 ** 3 / 480.0,
)
_DELTA = (
    2.0 * _N3 - 2.0 * _N3 ** 2 / 3.0 - 2.0 * _N3 ** 3,
    7.0 * _N3 ** 2 / 3.0 - 8.0 * _N3 ** 3 / 5.0,
    56.0 * _N3 ** 3 / 15.0,
)

_UTM_RE = re.compile(r"^EPSG:32([67])(\d\d)$")


def parse_utm_crs(crs: str) -> tuple[int, bool] | None:
    """'EPSG:326NN'/'EPSG:327NN' -> (zone, south) or None."""
    m = _UTM_RE.match(crs.upper())
    if not m:
        return None
    zone = int(m.group(2))
    if not 1 <= zone <= 60:
        return None
    return zone, m.group(1) == "7"


def utm_crs(zone: int, south: bool = False) -> str:
    return f"EPSG:32{7 if south else 6}{zone:02d}"


def _lat_series(x: E, coeffs) -> E:
    """``x + sum_j c_j sin(2 j x)``: an auxiliary latitude (conformal,
    authalic or rectifying) -> geodetic latitude series."""
    out = x
    for j, cj in enumerate(coeffs, start=1):
        out = out + X.lit(cj) * X.sin(X.lit(2.0 * j) * x)
    return out


def _tm_fwd(lam: E, phi: E, c: dict) -> tuple[E, E]:
    """Krueger TM forward, shared by UTM, the national TM grids and
    OSGB: radians (``lam`` from the central meridian, ``phi``) ->
    (easting, northing) for the constants ``c`` (:func:`_tm_consts`)."""
    sphi = X.sin(phi)
    t = X.sinh(X.atanh(sphi) - X.lit(c["e"])
               * X.atanh(X.lit(c["e"]) * sphi))
    clam = X.cos(lam)
    xip = X.atan2(t, clam)
    etap = X.asinh(X.sin(lam) / X.sqrt(t * t + clam * clam))
    xi, eta = xip, etap
    for j, a in enumerate(c["alpha"], start=1):
        xi = xi + X.lit(a) * X.sin(X.lit(2.0 * j) * xip) \
            * X.cosh(X.lit(2.0 * j) * etap)
        eta = eta + X.lit(a) * X.cos(X.lit(2.0 * j) * xip) \
            * X.sinh(X.lit(2.0 * j) * etap)
    return (X.lit(c["k"]) * eta + X.lit(c["fe"]),
            X.lit(c["k"]) * xi + X.lit(c["y0"]))


def _tm_inv(x: E, y: E, c: dict) -> tuple[E, E]:
    """Krueger TM inverse: (easting, northing) -> radians (``lam`` from
    the central meridian, ``phi``)."""
    xi = (y - X.lit(c["y0"])) / X.lit(c["k"])
    eta = (x - X.lit(c["fe"])) / X.lit(c["k"])
    xip, etap = xi, eta
    for j, b in enumerate(c["beta"], start=1):
        xip = xip - X.lit(b) * X.sin(X.lit(2.0 * j) * xi) \
            * X.cosh(X.lit(2.0 * j) * eta)
        etap = etap - X.lit(b) * X.cos(X.lit(2.0 * j) * xi) \
            * X.sinh(X.lit(2.0 * j) * eta)
    chi = X.asin(X.sin(xip) / X.cosh(etap))
    phi = _lat_series(chi, c["delta"])
    return X.atan2(X.sinh(etap), X.cos(xip)), phi


# ---- OSGB National Grid (EPSG:27700) ----------------------------------
#
# The British national CRS the reference reaches through pyproj: a
# transverse Mercator with false origin on the AIRY 1830 ellipsoid in
# the OSGB36 datum.  Two public-math pieces compose it, both as
# stages of plain arithmetic:
#   * the same Krueger/Karney TM series as UTM above, re-derived for
#     Airy's third flattening (the series coefficients are functions
#     of n only — `_tm_series`), with the EPSG:27700 natural origin
#     (49N, 2W, k0=0.9996012717, FE=400km, FN=-100km);
#   * the WGS84/ETRS89 <-> OSGB36 datum hop: geodetic -> geocentric
#     XYZ, the published 7-parameter Helmert (OS "A guide to
#     coordinate systems in Great Britain", annex; position-vector
#     convention), and Bowring's closed-form XYZ -> geodetic.
# Single-Helmert accuracy vs the OSTN15 grid shift is the documented
# ~3-5 m — the standard non-grid approximation.

def _tm_series(f: float):
    """Krueger 3rd-order TM series for an ellipsoid of flattening f:
    (alpha, beta, delta, A/a rectifying ratio)."""
    n = f / (2.0 - f)
    alpha = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 5.0 * n ** 3 / 16.0,
        13.0 * n ** 2 / 48.0 - 3.0 * n ** 3 / 5.0,
        61.0 * n ** 3 / 240.0,
    )
    beta = (
        n / 2.0 - 2.0 * n ** 2 / 3.0 + 37.0 * n ** 3 / 96.0,
        n ** 2 / 48.0 + n ** 3 / 15.0,
        17.0 * n ** 3 / 480.0,
    )
    delta = (
        2.0 * n - 2.0 * n ** 2 / 3.0 - 2.0 * n ** 3,
        7.0 * n ** 2 / 3.0 - 8.0 * n ** 3 / 5.0,
        56.0 * n ** 3 / 15.0,
    )
    ar = (1.0 + n ** 2 / 4.0 + n ** 4 / 64.0) / (1.0 + n)
    return alpha, beta, delta, ar


_AIRY_A = 6_377_563.396
_AIRY_F = 1.0 / 299.3249646
_AIRY_E = math.sqrt(_AIRY_F * (2.0 - _AIRY_F))
_AIRY_B = _AIRY_A * (1.0 - _AIRY_F)
_AIRY_EP2 = (_AIRY_A ** 2 - _AIRY_B ** 2) / _AIRY_B ** 2
_AIRY_ALPHA, _AIRY_BETA, _AIRY_DELTA, _airy_ar = _tm_series(_AIRY_F)
_AIRY_AR = _AIRY_A * _airy_ar

_WGS_A = _R
_WGS_E2 = _E_WGS84 ** 2
_WGS_B = _WGS_A * (1.0 - _F_WGS84)
_WGS_EP2 = (_WGS_A ** 2 - _WGS_B ** 2) / _WGS_B ** 2

_OSGB_K0 = 0.9996012717
_OSGB_LON0 = -2.0
_OSGB_LAT0 = 49.0
_OSGB_FE = 400_000.0
_OSGB_FN = -100_000.0
#: WGS84/ETRS89 -> OSGB36 Helmert (tx, ty, tz [m]; rx, ry, rz [rad];
#: s [unitless]) — position-vector convention
_OSGB_HELM = (
    -446.448, 125.157, -542.060,
    math.radians(-0.1502 / 3600.0),
    math.radians(-0.2470 / 3600.0),
    math.radians(-0.8421 / 3600.0),
    20.4894e-6,
)


def _tm_xi_scalar(phi: float, e: float, alpha: tuple) -> float:
    """Rectifying latitude xi of phi at the central meridian (scalar,
    for the false-northing constant)."""
    t = math.sinh(math.atanh(math.sin(phi))
                  - e * math.atanh(e * math.sin(phi)))
    xip = math.atan(t)
    return xip + sum(a * math.sin(2.0 * j * xip)
                     for j, a in enumerate(alpha, start=1))


#: northing offset: FN - k0 * M(lat0)
_OSGB_Y0 = _OSGB_FN - _OSGB_K0 * _AIRY_AR * _tm_xi_scalar(
    math.radians(_OSGB_LAT0), _AIRY_E, _AIRY_ALPHA)


def _helmert(x: E, y: E, z: E,
             params: tuple) -> tuple[E, E, E]:
    tx, ty, tz, rx, ry, rz, s = params
    m = 1.0 + s
    return (
        X.lit(tx) + X.lit(m) * x - X.lit(rz) * y + X.lit(ry) * z,
        X.lit(ty) + X.lit(rz) * x + X.lit(m) * y - X.lit(rx) * z,
        X.lit(tz) - X.lit(ry) * x + X.lit(rx) * y + X.lit(m) * z,
    )


_OSGB_HELM_INV = tuple(-v for v in _OSGB_HELM)


#: EPSG:27700's Airy-TM constants in the :func:`_tm_fwd` layout
_OSGB_TM = dict(e=_AIRY_E, alpha=_AIRY_ALPHA, beta=_AIRY_BETA,
                delta=_AIRY_DELTA, k=_OSGB_K0 * _AIRY_AR, fe=_OSGB_FE,
                y0=_OSGB_Y0)


def _osgb_tm_fwd(lam: E, phi: E) -> tuple[E, E]:
    """Airy-TM forward: OSGB36 geodetic radians -> (easting, northing),
    without the datum hop (tests pin the OS worked example on it)."""
    return _tm_fwd(lam - X.lit(math.radians(_OSGB_LON0)), phi, _OSGB_TM)


def _lonlat_to_osgb_fn() -> Transform:
    return staged(
        [{"__lamw": lambda env: X.radians(env["__in_x"]),
          "__phiw": lambda env: X.radians(env["__in_y"])}]
        + _datum_hop_fwd_stages(_OSGB_HELM, _AIRY_A, _AIRY_E ** 2,
                                _AIRY_B, _AIRY_EP2)
        + [{"__out_x": lambda env: _osgb_tm_fwd(env["__lam"],
                                                env["__phi"])[0],
            "__out_y": lambda env: _osgb_tm_fwd(env["__lam"],
                                                env["__phi"])[1]}])


def _osgb_to_lonlat_fn() -> Transform:
    def tm(env):
        lam, phi = _tm_inv(env["__in_x"], env["__in_y"], _OSGB_TM)
        return X.lit(math.radians(_OSGB_LON0)) + lam, phi

    return staged(
        [{"__lam": lambda env: tm(env)[0], "__phi": lambda env: tm(env)[1]}]
        + _datum_hop_inv_stages(_OSGB_HELM_INV, _AIRY_A, _AIRY_E ** 2))


# ---- generic national transverse-Mercator grids -----------------------
#
# TM-based national CRSs on modern geocentric datums (NZGD2000, ETRS89
# — both coincident with WGS84 at the accuracy relevant here, per the
# standard null transformation): the SAME Krueger machinery as UTM and
# OSGB, parameterized by (ellipsoid, natural origin).  No datum hop,
# so the inline expression stays UTM-sized.

_GRS80_A = 6_378_137.0
_GRS80_F = 1.0 / 298.257222101

#: crs -> (a, f, lat0, lon0, k0, false easting, false northing)
TM_PARAMS: dict[str, tuple] = {
    # NZGD2000 / New Zealand Transverse Mercator 2000
    "EPSG:2193": (_GRS80_A, _GRS80_F, 0.0, 173.0, 0.9996,
                  1_600_000.0, 10_000_000.0),
    # ETRS89 / TM35FIN (Finland)
    "EPSG:3067": (_GRS80_A, _GRS80_F, 0.0, 27.0, 0.9996,
                  500_000.0, 0.0),
    # ETRS89 / UTM zones 32N + 33N (the GRS80 twins of EPSG:326xx)
    "EPSG:25832": (_GRS80_A, _GRS80_F, 0.0, 9.0, 0.9996,
                   500_000.0, 0.0),
    "EPSG:25833": (_GRS80_A, _GRS80_F, 0.0, 15.0, 0.9996,
                   500_000.0, 0.0),
}


def _tm_consts(crs: str) -> dict:
    utm = parse_utm_crs(crs)
    if utm:  # WGS84: the module constants, in their own op order
        zone, south = utm
        return dict(e=_E_WGS84, alpha=_ALPHA, beta=_BETA, delta=_DELTA,
                    k=_K0 * _A_RECT, lon0=float(zone * 6 - 183),
                    fe=500_000.0, y0=10_000_000.0 if south else 0.0)
    a, f, lat0, lon0, k0, fe, fn = TM_PARAMS[crs.upper()]
    e = math.sqrt(f * (2.0 - f))
    alpha, beta, delta, ar = _tm_series(f)
    rect = a * ar
    y0 = fn - k0 * rect * _tm_xi_scalar(math.radians(lat0), e, alpha)
    return dict(e=e, alpha=alpha, beta=beta, delta=delta, k=k0 * rect,
                lon0=lon0, fe=fe, y0=y0)


def _lonlat_to_tm_fn(crs: str) -> Transform:
    c = _tm_consts(crs)
    return single(lambda lon, lat: _tm_fwd(
        X.radians(lon - X.lit(c["lon0"])), X.radians(lat), c))


def _tm_to_lonlat_fn(crs: str) -> Transform:
    c = _tm_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        lam, phi = _tm_inv(x, y, c)
        return X.lit(c["lon0"]) + X.degrees(lam), X.degrees(phi)

    return single(inv)


# ---- polar stereographic (EPSG:3413 / EPSG:3031) ----------------------
#
# The polar satellite CRSs (NSIDC Sea Ice stereographics) — ellipsoidal
# polar stereographic from Snyder 1987 (public math, eqs. 21-33..41 and
# the 3-5 chi->phi series).  Same design as UTM above: one closed-form
# stage each way.

_E2 = _E_WGS84 ** 2
#: chi -> phi series coefficients (Snyder eq. 3-5, 4th order in e^2)
_PS_SERIES = (
    _E2 / 2.0 + 5.0 * _E2 ** 2 / 24.0 + _E2 ** 3 / 12.0
    + 13.0 * _E2 ** 4 / 360.0,
    7.0 * _E2 ** 2 / 48.0 + 29.0 * _E2 ** 3 / 240.0
    + 811.0 * _E2 ** 4 / 11520.0,
    7.0 * _E2 ** 3 / 120.0 + 81.0 * _E2 ** 4 / 1120.0,
    4279.0 * _E2 ** 4 / 161280.0,
)

#: crs -> (south, |lat_ts| deg, lon0 deg) — EPSG method 9829
#: (variant B, scale from a standard parallel) on WGS84 with zero
#: false origin; or the 6-tuple (south, |lat_ts| deg or None,
#: lon0 deg, fe, fn, k0 or None) where lat_ts None means method
#: 9810 (variant A, +k_0 scale at the pole — the UPS form).
PS_PARAMS: dict[str, tuple] = {
    "EPSG:3413": (False, 70.0, -45.0),  # NSIDC North / Greenland
    "EPSG:3031": (True, 71.0, 0.0),     # Antarctic Polar Stereographic
    "EPSG:3976": (True, 70.0, 0.0),     # NSIDC Sea Ice Polar South
    "EPSG:3995": (False, 71.0, 0.0),    # Arctic Polar Stereographic
    # Universal Polar Stereographic (GN7-2 method 9810 worked example)
    "EPSG:5041": (False, None, 0.0, 2_000_000.0, 2_000_000.0, 0.994),
    "EPSG:5042": (True, None, 0.0, 2_000_000.0, 2_000_000.0, 0.994),
}

#: sqrt((1+e)^(1+e) * (1-e)^(1-e)) — the variant-A rho denominator
#: (EPSG method 9810 / Snyder 21-33 with k0 given at the pole)
_PS_VARA_C = math.sqrt((1.0 + _E_WGS84) ** (1.0 + _E_WGS84)
                       * (1.0 - _E_WGS84) ** (1.0 - _E_WGS84))


def _ps_unpack(crs: str) -> dict:
    """Normalize either PS_PARAMS tuple shape to the transform
    constants; K / Kinv are computed in the exact historical op
    order for the 3-tuple (variant B) keys so their expressions are
    bit-identical to rounds 1-7."""
    t = PS_PARAMS[crs.upper()]
    south, lat_ts, lon0 = t[0], t[1], t[2]
    fe, fn = (t[3], t[4]) if len(t) > 3 else (0.0, 0.0)
    k0 = t[5] if len(t) > 5 else None
    if lat_ts is not None:
        m_ts, t_ts = _ps_consts(lat_ts)
        K = _R * m_ts / t_ts
        Kinv = t_ts / (_R * m_ts)
    else:
        K = 2.0 * _R * k0 / _PS_VARA_C
        Kinv = _PS_VARA_C / (2.0 * _R * k0)
    return dict(south=south, lon0=lon0, fe=fe, fn=fn, K=K, Kinv=Kinv)


# ---- ellipsoidal Mercator (Snyder 7-7/7-10; EPSG:3395) ------------------

#: crs -> (lat_ts deg, lon0 deg, false easting, false northing), WGS84.
#: The TRUE ellipsoidal Mercator — distinct from EPSG:3857's
#: spherical-formula convention above.
MERC_PARAMS: dict[str, tuple[float, float, float, float]] = {
    "EPSG:3395": (0.0, 0.0, 0.0, 0.0),  # World Mercator
}


def _merc_ak(lat_ts: float) -> float:
    """a * k0 with k0 = m(lat_ts) (Snyder 7-8 / 14-15)."""
    phi = math.radians(lat_ts)
    s = math.sin(phi)
    return _R * math.cos(phi) / math.sqrt(1.0 - _E2 * s * s)


def _lonlat_to_merc_fn(crs: str) -> Transform:
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon - X.lit(lon0))
        latc = X.when(lat > 89.9999, 89.9999) \
            .when(lat < -89.9999, -89.9999).otherwise(lat)
        phi = X.radians(latc)
        s = X.lit(_E_WGS84) * X.sin(phi)
        y = X.lit(ak) * X.log(
            X.tan(X.lit(math.pi / 4.0) + phi / 2) * X.pow(
                (X.lit(1.0) - s) / (X.lit(1.0) + s),
                X.lit(_E_WGS84 / 2.0)))
        return X.lit(fe) + X.lit(ak) * lam, X.lit(fn) + y

    return single(fwd)


# ---- geostationary satellite view (+proj=geos; CF "geostationary") ------

#: crs -> (h m, lon0 deg, sweep_x, a m, rf).  Satellite full-disk
#: grids (GOES-R ABI: sweep x; MSG SEVIRI: sweep y).  Public math:
#: the normalized geostationary projection of the CGMS LRIT/HRIT
#: spec / PROJ's geos (view-vector intersection with the ellipsoid;
#: closed-form quadratic both directions).  No standard EPSG code —
#: these CRSs are registered via crsparse (+proj=geos strings or CF
#: geostationary attrs), never pre-listed.
GEOS_PARAMS: dict[str, tuple[float, float, bool, float, float]] = {}


def _geos_consts(crs: str) -> dict:
    h, lon0, sweep_x, a, rf = GEOS_PARAMS[crs.upper()]
    f = 0.0 if math.isinf(rf) else 1.0 / rf
    one_es = (1.0 - f) ** 2          # (b/a)^2
    return dict(
        lon0=lon0, sweep_x=sweep_x, a=a,
        radius_g_1=h / a, radius_g=1.0 + h / a,
        radius_p=math.sqrt(one_es), radius_p2=one_es,
        radius_p_inv2=1.0 / one_es,
        C=(1.0 + h / a) ** 2 - 1.0,
    )


def _lonlat_to_geos_fn(crs: str) -> Transform:
    c = _geos_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon - X.lit(c["lon0"]))
        # geodetic -> geocentric latitude on the normalized ellipsoid
        phi = X.atan(X.lit(c["radius_p2"]) * X.tan(X.radians(lat)))
        # explicit sqrt(u*u + v*v), not hypot: DuckDB renders the same
        # ops, so both engines round identically
        u = X.lit(c["radius_p"]) * X.cos(phi)
        v = X.sin(phi)
        r = X.lit(c["radius_p"]) / X.sqrt(u * u + v * v)
        vx = r * X.cos(lam) * X.cos(phi)
        vy = r * X.sin(lam) * X.cos(phi)
        vz = r * X.sin(phi)
        tmp = X.lit(c["radius_g"]) - vx
        visible = ((X.lit(c["radius_g"]) - vx) * vx - vy * vy
                   - vz * vz * X.lit(c["radius_p_inv2"])) >= 0.0
        if c["sweep_x"]:
            x = X.lit(c["radius_g_1"]) * X.atan(
                vy / X.sqrt(vz * vz + tmp * tmp))
            y = X.lit(c["radius_g_1"]) * X.atan(vz / tmp)
        else:
            x = X.lit(c["radius_g_1"]) * X.atan(vy / tmp)
            y = X.lit(c["radius_g_1"]) * X.atan(
                vz / X.sqrt(vy * vy + tmp * tmp))
        nan = X.lit(float("nan"))
        return (X.when(visible, X.lit(c["a"]) * x).otherwise(nan),
                X.when(visible, X.lit(c["a"]) * y).otherwise(nan))

    return single(fwd)


def _geos_to_lonlat_fn(crs: str) -> Transform:
    c = _geos_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        xn = x / X.lit(c["a"] * c["radius_g_1"])
        yn = y / X.lit(c["a"] * c["radius_g_1"])
        if c["sweep_x"]:
            vz = X.tan(yn)
            vy = X.tan(xn) * X.sqrt(X.lit(1.0) + vz * vz)
        else:
            vy = X.tan(xn)
            vz = X.tan(yn) * X.sqrt(X.lit(1.0) + vy * vy)
        # view line p = (radius_g,0,0) + k*(-1, vy, vz); intersect the
        # normalized ellipsoid: quadratic in k (off-disk -> sqrt(neg)
        # -> NaN, the documented not-visible signal)
        vzp = vz / X.lit(c["radius_p"])
        qa = vy * vy + vzp * vzp + X.lit(1.0)
        qb = X.lit(2.0 * c["radius_g"]) * X.lit(-1.0)
        k = (-qb - X.sqrt(qb * qb - 4.0 * qa * X.lit(c["C"]))) / (2.0 * qa)
        px = X.lit(c["radius_g"]) - k
        py = vy * k
        pz = vz * k
        lam = X.atan2(py, px)
        phi = X.atan(pz * X.cos(lam) / px)
        phi = X.atan(X.lit(c["radius_p_inv2"]) * X.tan(phi))
        return X.lit(c["lon0"]) + X.degrees(lam), X.degrees(phi)

    return single(inv)


#: CF `rotated_latitude_longitude` / PROJ `+proj=ob_tran
#: +o_proj=longlat` (regional climate model grids — CORDEX, COSMO,
#: HIRLAM).  Pure spherical rotation: grid coords ARE rotated lon/lat
#: in DEGREES (the CF convention; pyproj's CF export adds
#: +to_meter=0.0174532925199433 for the same effect).  Params:
#: (grid_north_pole_latitude, grid_north_pole_longitude,
#: north_pole_grid_longitude).  No standard EPSG codes — registered
#: via crsparse.  Reference parity: accepts any pyproj CRS incl.
#: rotated pole (`xcube/core/gridmapping/transform.py`).
ROTPOLE_PARAMS: dict[str, tuple[float, float, float]] = {}


def _rotpole_consts(crs: str) -> dict:
    theta_p, lambda_p, phi0 = ROTPOLE_PARAMS[crs.upper()]
    return dict(
        lambda_p=lambda_p, phi0=phi0,
        sp=math.sin(math.radians(theta_p)),
        cp=math.cos(math.radians(theta_p)),
    )


def _lonlat_to_rotpole_fn(crs: str) -> Transform:
    """True lon/lat (deg) -> rotated lon/lat (deg).  Derivation:
    v = unit vector; rotate Rz(-lambda_p) then Ry(theta_p - 90) so the
    grid pole lands on +z; the true north pole then sits at rotated
    longitude 180, so CF's north_pole_grid_longitude phi0 shifts the
    rotated longitude by (phi0 - 180)."""
    c = _rotpole_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon - X.lit(c["lambda_p"]))
        phi = X.radians(lat)
        cphi = X.cos(phi)
        sphi = X.sin(phi)
        clam = X.cos(lam)
        z2 = sphi * X.lit(c["sp"]) + cphi * X.lit(c["cp"]) * clam
        y2 = cphi * X.sin(lam)
        x2 = cphi * clam * X.lit(c["sp"]) - sphi * X.lit(c["cp"])
        rlat = X.degrees(X.asin(z2))
        rlon = (X.degrees(X.atan2(y2, x2)) - X.lit(180.0)
                + X.lit(c["phi0"]))
        rlon = (X.when(rlon < -180.0, rlon + X.lit(360.0))
                .when(rlon > 180.0, rlon - X.lit(360.0))
                .otherwise(rlon))
        return rlon, rlat

    return single(fwd)


def _rotpole_to_lonlat_fn(crs: str) -> Transform:
    """Rotated lon/lat (deg) -> true lon/lat (deg): the transpose
    rotation of :func:`_lonlat_to_rotpole_fn`."""
    c = _rotpole_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        lam0 = X.radians(x - X.lit(c["phi0"]) + X.lit(180.0))
        phi = X.radians(y)
        cphi = X.cos(phi)
        x2 = cphi * X.cos(lam0)
        y2 = cphi * X.sin(lam0)
        z2 = X.sin(phi)
        lat = X.degrees(X.asin(
            z2 * X.lit(c["sp"]) - x2 * X.lit(c["cp"])))
        x1 = x2 * X.lit(c["sp"]) + z2 * X.lit(c["cp"])
        lon = X.lit(c["lambda_p"]) + X.degrees(X.atan2(y2, x1))
        lon = (X.when(lon < -180.0, lon + X.lit(360.0))
               .when(lon > 180.0, lon - X.lit(360.0))
               .otherwise(lon))
        return lon, lat

    return single(inv)


# ---- oblique (double) stereographic — EPSG method 9809 ------------------
#
# "Stereographic projection of the conformal sphere": ellipsoid ->
# conformal sphere (exponent n, factor c) -> plane stereographically.
# PROJ `+proj=sterea`; the Dutch RD New grid (EPSG:28992, Bessel 1841)
# is the canonical user.  Math per EPSG Guidance Note 7-2, validated
# against its published test point (53N 6E -> 196105.283, 557057.739).

#: crs -> (a, rf, lat0, lon0, k0, false easting, false northing)
STEREA_PARAMS: dict[str, tuple] = {
    # Amersfoort / RD New (Bessel 1841; origin 52°09'22.178"N,
    # 5°23'15.500"E)
    "EPSG:28992": (6_377_397.155, 299.1528128,
                   52.0 + 9.0 / 60.0 + 22.178 / 3600.0,
                   5.0 + 23.0 / 60.0 + 15.5 / 3600.0,
                   0.9999079, 155_000.0, 463_000.0),
}

#: fixed iteration count of the conformal->geodetic latitude solve;
#: converges to <1e-12 rad in 3 for earthlike eccentricities (both
#: engines run the SAME count so the op sequence is identical)
_STEREA_ITERS = 4


def _sterea_consts(crs: str) -> dict:
    a, rf, lat0, lon0, k0, fe, fn = STEREA_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phi0 = math.radians(lat0)
    s0 = math.sin(phi0)
    nu0 = a / math.sqrt(1.0 - es * s0 * s0)
    rho0 = a * (1.0 - es) / (1.0 - es * s0 * s0) ** 1.5
    big_r = math.sqrt(nu0 * rho0)
    n = math.sqrt(1.0 + es * math.cos(phi0) ** 4 / (1.0 - es))
    s1 = (1.0 + s0) / (1.0 - s0)
    s2 = (1.0 - e * s0) / (1.0 + e * s0)
    w1 = (s1 * s2 ** e) ** n
    sx0 = (w1 - 1.0) / (w1 + 1.0)
    c = ((n + s0) * (1.0 - sx0)) / ((n - s0) * (1.0 + sx0))
    w2 = c * w1
    schi0 = (w2 - 1.0) / (w2 + 1.0)
    chi0 = math.asin(schi0)
    rk2 = 2.0 * big_r * k0
    return dict(
        e=e, es=es, n=n, c=c, k0=k0, fe=fe, fn=fn,
        lon0=lon0, lam0=math.radians(lon0),
        schi0=schi0, cchi0=math.cos(chi0), rk2=rk2,
        g=rk2 * math.tan(math.pi / 4.0 - chi0 / 2.0),
        h=2.0 * rk2 * math.tan(chi0)
        + rk2 * math.tan(math.pi / 4.0 - chi0 / 2.0),
        chi0=chi0,
    )


def _lonlat_to_sterea_fn(crs: str) -> Transform:
    """lon/lat (deg) -> oblique-stereographic E/N (EPSG 9809
    forward); staged so the w/chi intermediates are not re-expanded."""
    c = _sterea_consts(crs)
    e, n = c["e"], c["n"]

    def s1(env):
        return X.sin(X.radians(env["__in_y"]))

    def s2(env):
        sphi = env["__sphi"]
        sa = (X.lit(1.0) + sphi) / (X.lit(1.0) - sphi)
        sb = (X.lit(1.0) - X.lit(e) * sphi) / \
            (X.lit(1.0) + X.lit(e) * sphi)
        return X.lit(c["c"]) * X.pow(sa * X.pow(sb, X.lit(e)), X.lit(n))

    def s3(env):
        return (env["__w"] - X.lit(1.0)) / (env["__w"] + X.lit(1.0))

    def s4(env):
        schi = env["__schi"]
        return X.sqrt(X.lit(1.0) - schi * schi)

    def s5(env):
        return X.lit(n) * (X.radians(env["__in_x"]) - X.lit(c["lam0"]))

    def s6(env):
        return (X.lit(1.0) + env["__schi"] * X.lit(c["schi0"])
                + env["__cchi"] * X.lit(c["cchi0"]) * X.cos(env["__dl"]))

    def out_x(env):
        return (X.lit(c["fe"]) + X.lit(c["rk2"]) * env["__cchi"]
                * X.sin(env["__dl"]) / env["__b"])

    def out_y(env):
        return (X.lit(c["fn"]) + X.lit(c["rk2"])
                * (env["__schi"] * X.lit(c["cchi0"])
                   - env["__cchi"] * X.lit(c["schi0"])
                   * X.cos(env["__dl"])) / env["__b"])

    return staged([
        {"__sphi": s1},
        {"__w": s2},
        {"__schi": s3},
        {"__cchi": s4, "__dl": s5},
        {"__b": s6},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _sterea_to_lonlat_fn(crs: str) -> Transform:
    """E/N -> lon/lat (EPSG 9809 inverse): stereographic un-projection
    on the conformal sphere, then the fixed-count iterative
    conformal->geodetic latitude solve, one stage per iteration."""
    c = _sterea_consts(crs)
    e, es, n = c["e"], c["es"], c["n"]

    def sub(env):
        return env["__in_x"] - X.lit(c["fe"])

    def subn(env):
        return env["__in_y"] - X.lit(c["fn"])

    def c_i(env):
        return X.atan2(env["__ep"], X.lit(c["h"]) + env["__np"])

    def c_j(env):
        return X.atan2(env["__ep"],
                       X.lit(c["g"]) - env["__np"]) - env["__i"]

    def c_chi(env):
        return X.lit(c["chi0"]) + X.lit(2.0) * X.atan(
            (env["__np"] - env["__ep"] * X.tan(env["__j"] / X.lit(2.0)))
            / X.lit(c["rk2"]))

    def c_lon(env):
        lam = env["__j"] + X.lit(2.0) * env["__i"] + X.lit(c["lam0"])
        return (X.degrees((lam - X.lit(c["lam0"])) / X.lit(n))
                + X.lit(c["lon0"]))

    def c_psi(env):
        schi = X.sin(env["__chi"])
        return X.log((X.lit(1.0) + schi)
                     / (X.lit(c["c"]) * (X.lit(1.0) - schi))) \
            / X.lit(2.0 * n)

    def c_phi0(env):
        return (X.lit(2.0) * X.atan(X.exp(env["__psi"]))
                - X.lit(math.pi / 2.0))

    def step(env):
        phi = env["__phi"]
        sphi = X.sin(phi)
        psii = X.log(
            X.tan(phi / X.lit(2.0) + X.lit(math.pi / 4.0))
            * X.pow((X.lit(1.0) - X.lit(e) * sphi)
                    / (X.lit(1.0) + X.lit(e) * sphi),
                    X.lit(e / 2.0)))
        return phi - (psii - env["__psi"]) * X.cos(phi) \
            * (X.lit(1.0) - X.lit(es) * sphi * sphi) / X.lit(1.0 - es)

    stages = [
        {"__ep": sub, "__np": subn},
        {"__i": c_i},
        {"__j": c_j},
        {"__chi": c_chi},
        {"__psi": c_psi},
        {"__phi": c_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_STEREA_ITERS)]
    stages.append({"__out_x": c_lon,
                   "__out_y": lambda env: X.degrees(env["__phi"])})
    return staged(stages)


def _merc_to_lonlat_fn(crs: str) -> Transform:
    lat_ts, lon0, fe, fn = MERC_PARAMS[crs.upper()]
    ak = _merc_ak(lat_ts)

    def inv(x: E, y: E) -> tuple[E, E]:
        lam = (x - X.lit(fe)) / X.lit(ak)
        t = X.exp((X.lit(fn) - y) / X.lit(ak))  # Snyder 7-10
        chi = X.lit(math.pi / 2.0) - 2 * X.atan(t)
        phi = _lat_series(chi, _PS_SERIES)
        return X.lit(lon0) + X.degrees(lam), X.degrees(phi)

    return single(inv)


def _ps_consts(lat_ts: float) -> tuple[float, float]:
    """(m_ts, t_ts) at the standard parallel (Snyder 14-15, 15-9)."""
    phi = math.radians(lat_ts)
    s = math.sin(phi)
    m_ts = math.cos(phi) / math.sqrt(1.0 - _E2 * s * s)
    t_ts = math.tan(math.pi / 4.0 - phi / 2.0) * (
        (1.0 + _E_WGS84 * s) / (1.0 - _E_WGS84 * s)
    ) ** (_E_WGS84 / 2.0)
    return m_ts, t_ts


def _lonlat_to_ps_fn(crs: str) -> Transform:
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon - X.lit(lon0))
        phi = X.radians(X.lit(-1.0) * lat if south else lat)
        s = X.lit(_E_WGS84) * X.sin(phi)
        t = X.tan(X.lit(math.pi / 4.0) - phi / 2) * X.pow(
            (X.lit(1.0) + s) / (X.lit(1.0) - s), X.lit(_E_WGS84 / 2.0)
        )
        rho = X.lit(c["K"]) * t
        # north: pole at origin, y negative along lon0 (Snyder 21-30/31)
        # south aspect: y positive along lon0 (Snyder 21-26/27 mirrored)
        xo = rho * X.sin(lam)
        yo = rho * X.cos(lam) if south \
            else rho * X.cos(lam) * X.lit(-1.0)
        # false origin only when nonzero: 3-tuple keys keep their
        # historical expression tree bit-exactly
        if c["fe"]:
            xo = X.lit(c["fe"]) + xo
        if c["fn"]:
            yo = X.lit(c["fn"]) + yo
        return xo, yo

    return single(fwd)


def _ps_to_lonlat_fn(crs: str) -> Transform:
    c = _ps_unpack(crs)
    south, lon0 = c["south"], c["lon0"]

    def inv(x: E, y: E) -> tuple[E, E]:
        if c["fe"]:
            x = x - X.lit(c["fe"])
        if c["fn"]:
            y = y - X.lit(c["fn"])
        rho = X.sqrt(x * x + y * y)
        t = rho * X.lit(c["Kinv"])
        chi = X.lit(math.pi / 2.0) - 2 * X.atan(t)
        phi = _lat_series(chi, _PS_SERIES)
        lam = X.atan2(x, y if south else y * X.lit(-1.0))
        lat = X.degrees(phi)
        return (
            X.lit(lon0) + X.degrees(lam),
            lat * X.lit(-1.0) if south else lat,
        )

    return single(inv)


# ---- spherical azimuthal equidistant / orthographic / equidistant
# ---- cylindrical ------------------------------------------------------
#
# Three spherical closed forms (Snyder chs. 25, 20, 12) rounding out
# the CF grid-mapping names the reference accepts via pyproj:
# azimuthal_equidistant, orthographic, and PROJ +proj=eqc (EPSG
# method 1029 on the authalic sphere, EPSG:4088).  Ellipsoidal aeqd
# needs geodesics and ellipsoidal eqc a meridian-arc series — both
# raise with a clear message in crsparse rather than silently
# approximating.

#: crs -> (R, lat0, lon0, false easting, false northing)
AEQD_PARAMS: dict[str, tuple] = {}

#: crs -> (R, lat0, lon0, false easting, false northing)
ORTHO_PARAMS: dict[str, tuple] = {}

#: crs -> (a, rf, lat_ts, lon0, false easting, false northing);
#: rf = inf is the spherical method 1029, finite rf the ellipsoidal
#: method 1028 (meridian arc via the Krueger rectifying series)
EQC_PARAMS: dict[str, tuple] = {
    # World Equidistant Cylindrical (GRS80 authalic sphere)
    "EPSG:4088": (6_371_007.0, math.inf, 0.0, 0.0, 0.0, 0.0),
    # WGS 84 / World Equidistant Cylindrical (ellipsoidal)
    "EPSG:4087": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0, 0.0),
}


def _azi_consts(table: dict, crs: str) -> dict:
    r, lat0, lon0, fe, fn = table[crs.upper()]
    phi0 = math.radians(lat0)
    return dict(r=r, lon0=lon0, fe=fe, fn=fn,
                sp0=math.sin(phi0), cp0=math.cos(phi0))


def _azi_cosc(c: dict, phi: E, dl: E) -> E:
    """cos of the angular distance from the projection center."""
    return (X.lit(c["sp0"]) * X.sin(phi)
            + X.lit(c["cp0"]) * X.cos(phi) * X.cos(dl))


def _azi_xy(c: dict, k: E, phi: E, dl: E) -> tuple[E, E]:
    """Planar (x, y) of a spherical azimuthal at radial scale ``k``."""
    return (X.lit(c["fe"]) + X.lit(c["r"]) * k * X.cos(phi) * X.sin(dl),
            X.lit(c["fn"]) + X.lit(c["r"]) * k * (
                X.lit(c["cp0"]) * X.sin(phi)
                - X.lit(c["sp0"]) * X.cos(phi) * X.cos(dl)))


def _azi_inv(x: E, y: E, c: dict,
             angle: Callable[[E], E]) -> tuple[E, E]:
    """The spherical azimuthal inverse (Snyder 20-14..20-18) shared by
    aeqd, ortho, gnomonic, nsper and stereographic: planar (x, y) ->
    lon/lat, given the family's angular distance ``angle(rho)``."""
    xe = x - X.lit(c["fe"])
    yn = y - X.lit(c["fn"])
    rho = X.sqrt(xe * xe + yn * yn)
    cang = angle(rho)
    phi = X.when(rho == 0.0, X.asin(X.lit(c["sp0"]))).otherwise(
        X.asin(X.cos(cang) * X.lit(c["sp0"])
               + yn * X.sin(cang) * X.lit(c["cp0"]) / rho))
    lam = X.when(rho == 0.0, X.lit(0.0)).otherwise(
        X.atan2(xe * X.sin(cang),
                rho * X.lit(c["cp0"]) * X.cos(cang)
                - yn * X.lit(c["sp0"]) * X.sin(cang)))
    return X.lit(c["lon0"]) + X.degrees(lam), X.degrees(phi)


def _lonlat_to_aeqd_fn(crs: str) -> Transform:
    c = _azi_consts(AEQD_PARAMS, crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        dl = X.radians(lon - X.lit(c["lon0"]))
        phi = X.radians(lat)
        cosc = _azi_cosc(c, phi, dl)
        cang = X.acos(X.greatest(X.lit(-1.0), X.least(X.lit(1.0), cosc)))
        # k' = c/sin c, 1 at the center (Snyder 25-2)
        kp = X.when(X.sin(cang) == 0.0, X.lit(1.0)) \
            .otherwise(cang / X.sin(cang))
        return _azi_xy(c, kp, phi, dl)

    return single(fwd)


def _aeqd_to_lonlat_fn(crs: str) -> Transform:
    c = _azi_consts(AEQD_PARAMS, crs)
    return single(lambda x, y: _azi_inv(
        x, y, c, lambda rho: rho / X.lit(c["r"])))


def _lonlat_to_ortho_fn(crs: str) -> Transform:
    c = _azi_consts(ORTHO_PARAMS, crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        dl = X.radians(lon - X.lit(c["lon0"]))
        phi = X.radians(lat)
        cosc = _azi_cosc(c, phi, dl)
        nan = X.lit(float("nan"))
        x = X.lit(c["fe"]) + X.lit(c["r"]) * X.cos(phi) * X.sin(dl)
        y = X.lit(c["fn"]) + X.lit(c["r"]) * (
            X.lit(c["cp0"]) * X.sin(phi)
            - X.lit(c["sp0"]) * X.cos(phi) * X.cos(dl))
        vis = cosc >= 0.0  # far hemisphere is not on the map
        return X.when(vis, x).otherwise(nan), \
            X.when(vis, y).otherwise(nan)

    return single(fwd)


def _ortho_to_lonlat_fn(crs: str) -> Transform:
    c = _azi_consts(ORTHO_PARAMS, crs)
    # off-disk: asin(>1) -> NaN, the documented not-visible signal
    return single(lambda x, y: _azi_inv(
        x, y, c, lambda rho: X.asin(rho / X.lit(c["r"]))))


#: crs -> (R, lat0, lon0, false easting, false northing)
GNOM_PARAMS: dict[str, tuple] = {}


def _lonlat_to_gnom_fn(crs: str) -> Transform:
    """Spherical gnomonic forward (Snyder ch. 22): k' = 1 / cos c —
    every great circle maps to a straight line (the defining
    property, pinned by tests); the far hemisphere and the horizon
    circle (cos c <= 0) are not on the map (NaN)."""
    c = _azi_consts(GNOM_PARAMS, crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        dl = X.radians(lon - X.lit(c["lon0"]))
        phi = X.radians(lat)
        cosc = _azi_cosc(c, phi, dl)
        nan = X.lit(float("nan"))
        x = X.lit(c["fe"]) + X.lit(c["r"]) * X.cos(phi) * X.sin(dl) / cosc
        y = X.lit(c["fn"]) + X.lit(c["r"]) * (
            X.lit(c["cp0"]) * X.sin(phi)
            - X.lit(c["sp0"]) * X.cos(phi) * X.cos(dl)) / cosc
        vis = cosc > 0.0
        return X.when(vis, x).otherwise(nan), \
            X.when(vis, y).otherwise(nan)

    return single(fwd)


def _gnom_to_lonlat_fn(crs: str) -> Transform:
    c = _azi_consts(GNOM_PARAMS, crs)
    # c = atan(rho/R), Snyder 22-16
    return single(lambda x, y: _azi_inv(
        x, y, c, lambda rho: X.atan(rho / X.lit(c["r"]))))


def _eqc_consts(crs: str) -> dict:
    a, rf, lat_ts, lon0, fe, fn = EQC_PARAMS[crs.upper()]
    phi1 = math.radians(lat_ts)
    if math.isinf(rf):
        return dict(sphere=True, lon0=lon0, fe=fe, fn=fn,
                    rc=a * math.cos(phi1), ry=a)
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    alpha, beta, delta, ar = _tm_series(f)
    s1 = math.sin(phi1)
    return dict(sphere=False, lon0=lon0, fe=fe, fn=fn, e=e,
                rc=a * math.cos(phi1) / math.sqrt(1.0 - es * s1 * s1),
                ary=a * ar, alpha=alpha, beta=beta, delta=delta)


# ---- Hotine oblique Mercator (EPSG 9812/9815) --------------------------
#
# The rotated-aspect Mercator for slanted features (Malaysia/Borneo
# RSO grids, Alaska zone 1, Swiss-style axes): EPSG Guidance Note 7-2
# methods 9812 (variant A) / 9815 (variant B), validated against the
# GN's published Timbalai 1948 / RSO Borneo worked example to the mm.

#: crs -> (a, rf, lat_c, lon_c, azimuth alpha_c, rectified-skew
#: gamma_c, k_c, false E, false N, variant_a)
OMERC_PARAMS: dict[str, tuple] = {
    # Timbalai 1948 / RSO Borneo (m) — the GN7-2 worked example
    "EPSG:29873": (6_377_298.556, 300.8017, 4.0, 115.0,
                   53.0 + 18.0 / 60.0 + 56.9537 / 3600.0,
                   53.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
                   0.99984, 590_476.87, 442_857.65, False),
}


def _omerc_consts(crs: str) -> dict:
    a, rf, latc, lonc, alpha, gamma, kc, ec, nc, var_a = \
        OMERC_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phic = math.radians(latc)
    sc = math.sin(phic)
    b = math.sqrt(1.0 + es * math.cos(phic) ** 4 / (1.0 - es))
    big_a = a * b * kc * math.sqrt(1.0 - es) / (1.0 - es * sc * sc)
    t0 = math.tan(math.pi / 4.0 - phic / 2.0) / (
        (1.0 - e * sc) / (1.0 + e * sc)) ** (e / 2.0)
    d = b * math.sqrt(1.0 - es) / (
        math.cos(phic) * math.sqrt(1.0 - es * sc * sc))
    d2 = max(d * d, 1.0)
    south = latc < 0.0
    fc = d + math.sqrt(d2 - 1.0) * (-1.0 if south else 1.0)
    h = fc * t0 ** b
    g_ = (fc - 1.0 / fc) / 2.0
    gamma0 = math.asin(math.sin(math.radians(alpha)) / d)
    lam0 = math.radians(lonc) - math.asin(g_ * math.tan(gamma0)) / b
    uc = (big_a / b) * math.atan2(
        math.sqrt(d2 - 1.0), math.cos(math.radians(alpha))) \
        * (-1.0 if south else 1.0)
    ser = (es / 2.0 + 5.0 * es ** 2 / 24.0 + es ** 3 / 12.0
           + 13.0 * es ** 4 / 360.0,
           7.0 * es ** 2 / 48.0 + 29.0 * es ** 3 / 240.0
           + 811.0 * es ** 4 / 11520.0,
           7.0 * es ** 3 / 120.0 + 81.0 * es ** 4 / 1120.0,
           4279.0 * es ** 4 / 161280.0)
    return dict(e=e, b=b, big_a=big_a, h=h,
                sg0=math.sin(gamma0), cg0=math.cos(gamma0),
                lam0=lam0, uoff=0.0 if var_a else uc,
                sg=math.sin(math.radians(gamma)),
                cg=math.cos(math.radians(gamma)),
                ec=ec, nc=nc, series=ser)


def _lonlat_to_omerc_fn(crs: str) -> Transform:
    """lon/lat (deg) -> Hotine E/N (EPSG 9815 forward, staged)."""
    c = _omerc_consts(crs)
    e, b, big_a = c["e"], c["b"], c["big_a"]

    def s_t(env):
        s = X.sin(X.radians(env["__in_y"]))
        return (X.tan(X.lit(math.pi / 4.0)
                      - X.radians(env["__in_y"]) / X.lit(2.0))
                / X.pow((X.lit(1.0) - X.lit(e) * s)
                        / (X.lit(1.0) + X.lit(e) * s), X.lit(e / 2.0)))

    def s_q(env):
        return X.lit(c["h"]) / X.pow(env["__t"], X.lit(b))

    def s_sv(env):
        q = env["__q"]
        return (q - X.lit(1.0) / q) / X.lit(2.0)

    def s_tv(env):
        q = env["__q"]
        return (q + X.lit(1.0) / q) / X.lit(2.0)

    def s_dl(env):
        return X.lit(b) * (X.radians(env["__in_x"]) - X.lit(c["lam0"]))

    def s_u(env):
        return X.lit(big_a) * X.atan2(
            env["__s"] * X.lit(c["cg0"])
            + X.sin(env["__dl"]) * X.lit(c["sg0"]),
            X.cos(env["__dl"])) / X.lit(b) - X.lit(c["uoff"])

    def s_v(env):
        u_ = (X.sin(env["__dl"]) * X.lit(-1.0) * X.lit(c["cg0"])
              + env["__s"] * X.lit(c["sg0"])) / env["__tv"]
        return X.lit(big_a) * X.log(
            (X.lit(1.0) - u_) / (X.lit(1.0) + u_)) / X.lit(2.0 * b)

    def out_x(env):
        return (env["__v"] * X.lit(c["cg"])
                + env["__u"] * X.lit(c["sg"]) + X.lit(c["ec"]))

    def out_y(env):
        return (env["__u"] * X.lit(c["cg"])
                - env["__v"] * X.lit(c["sg"]) + X.lit(c["nc"]))

    return staged([
        {"__t": s_t},
        {"__q": s_q},
        {"__s": s_sv, "__tv": s_tv, "__dl": s_dl},
        {"__u": s_u, "__v": s_v},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _omerc_to_lonlat_fn(crs: str) -> Transform:
    """Hotine E/N -> lon/lat (EPSG 9815 reverse, staged)."""
    c = _omerc_consts(crs)
    b, big_a = c["b"], c["big_a"]

    def s_v(env):
        return ((env["__in_x"] - X.lit(c["ec"])) * X.lit(c["cg"])
                - (env["__in_y"] - X.lit(c["nc"])) * X.lit(c["sg"]))

    def s_u(env):
        return ((env["__in_y"] - X.lit(c["nc"])) * X.lit(c["cg"])
                + (env["__in_x"] - X.lit(c["ec"])) * X.lit(c["sg"])
                + X.lit(c["uoff"]))

    def s_q(env):
        return X.exp(X.lit(-b) * env["__v"] / X.lit(big_a))

    def s_sv(env):
        q = env["__q"]
        return (q - X.lit(1.0) / q) / X.lit(2.0)

    def s_tv(env):
        q = env["__q"]
        return (q + X.lit(1.0) / q) / X.lit(2.0)

    def s_bu(env):
        return X.lit(b) * env["__u"] / X.lit(big_a)

    def s_uu(env):
        return (X.sin(env["__bu"]) * X.lit(c["cg0"])
                + env["__s"] * X.lit(c["sg0"])) / env["__tv"]

    def s_chi(env):
        t = X.pow(
            X.lit(c["h"]) / X.sqrt((X.lit(1.0) + env["__uu"])
                                   / (X.lit(1.0) - env["__uu"])),
            X.lit(1.0 / b))
        return X.lit(math.pi / 2.0) - X.lit(2.0) * X.atan(t)

    def out_y(env):
        chi = env["__chi"]
        phi = _lat_series(chi, c["series"])
        return X.degrees(phi)

    def out_x(env):
        lam = X.lit(c["lam0"]) - X.atan2(
            env["__s"] * X.lit(c["cg0"])
            - X.sin(env["__bu"]) * X.lit(c["sg0"]),
            X.cos(env["__bu"])) / X.lit(b)
        return X.degrees(lam)

    return staged([
        {"__v": s_v, "__u": s_u},
        {"__q": s_q, "__bu": s_bu},
        {"__s": s_sv, "__tv": s_tv},
        {"__uu": s_uu},
        {"__chi": s_chi},
        {"__out_x": out_x, "__out_y": out_y},
    ])


#: spherical near-sided (vertical) perspective — Snyder ch. 23 /
#: CF `vertical_perspective` (satellite-eye views from finite height;
#: orthographic is the h -> inf limit, geostationary the scan-angle
#: sibling).  crs -> (R, height h, lat0, lon0, fe, fn)
NSPER_PARAMS: dict[str, tuple] = {}


def _nsper_consts(crs: str) -> dict:
    r, h, lat0, lon0, fe, fn = NSPER_PARAMS[crs.upper()]
    phi0 = math.radians(lat0)
    return dict(r=r, p=1.0 + h / r, lon0=lon0, fe=fe, fn=fn,
                sp0=math.sin(phi0), cp0=math.cos(phi0))


def _lonlat_to_nsper_fn(crs: str) -> Transform:
    c = _nsper_consts(crs)
    p = c["p"]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        dl = X.radians(lon - X.lit(c["lon0"]))
        phi = X.radians(lat)
        cosc = _azi_cosc(c, phi, dl)
        kp = X.lit(p - 1.0) / (X.lit(p) - cosc)  # Snyder 23-3
        nan = X.lit(float("nan"))
        x, y = _azi_xy(c, kp, phi, dl)
        vis = cosc >= X.lit(1.0 / p)  # beyond the horizon circle
        return X.when(vis, x).otherwise(nan), \
            X.when(vis, y).otherwise(nan)

    return single(fwd)


def _nsper_to_lonlat_fn(crs: str) -> Transform:
    c = _nsper_consts(crs)
    p, r = c["p"], c["r"]

    def angle(rho: E) -> E:
        # Snyder 23-19/20: off-disk -> sqrt(negative) -> NaN
        root = X.sqrt(X.lit(1.0) - rho * rho * X.lit(
            (p + 1.0) / (r * r * (p - 1.0))))
        return X.asin((X.lit(p) - root)
                      / (X.lit(r * (p - 1.0)) / rho
                         + rho / X.lit(r * (p - 1.0))))

    return single(lambda x, y: _azi_inv(x, y, c, angle))


#: spherical stereographic, ANY aspect (Snyder 21-2..21-4 / 20-14..
#: 20-18) — backs the CF `stereographic` grid-mapping name for
#: spherical datums; ellipsoidal non-polar stays with sterea/polar.
#: crs -> (R, k0, lat0, lon0, false easting, false northing)
STEREG_PARAMS: dict[str, tuple] = {}


def _stereg_azi_consts(crs: str) -> dict:
    """STEREG tuples reshaped to the (R, lat0, lon0, fe, fn) layout
    :func:`_azi_consts` expects (k0 read separately)."""
    r0, k0, lat0, lon0, fe, fn = STEREG_PARAMS[crs.upper()]
    return _azi_consts({crs.upper(): (r0, lat0, lon0, fe, fn)}, crs)


def _lonlat_to_stereg_fn(crs: str) -> Transform:
    c = _stereg_azi_consts(crs)
    k0 = STEREG_PARAMS[crs.upper()][1]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        dl = X.radians(lon - X.lit(c["lon0"]))
        phi = X.radians(lat)
        den = (X.lit(1.0) + X.lit(c["sp0"]) * X.sin(phi)
               + X.lit(c["cp0"]) * X.cos(phi) * X.cos(dl))
        k = X.lit(2.0 * k0) / den  # antipode: den -> 0, k -> inf
        return _azi_xy(c, k, phi, dl)

    return single(fwd)


def _stereg_to_lonlat_fn(crs: str) -> Transform:
    c = _stereg_azi_consts(crs)
    k0 = STEREG_PARAMS[crs.upper()][1]
    return single(lambda x, y: _azi_inv(
        x, y, c,
        lambda rho: X.lit(2.0) * X.atan(rho / X.lit(2.0 * c["r"] * k0))))


def _meridian_xi(phi: E, c: dict) -> E:
    """Rectifying latitude of ``phi``: the Krueger series at the
    central meridian (the meridian arc is ``a * ar * xi``)."""
    sphi = X.sin(phi)
    t = X.sinh(X.atanh(sphi)
               - X.lit(c["e"]) * X.atanh(X.lit(c["e"]) * sphi))
    xip = X.atan(t)
    xi = xip
    for j, aj in enumerate(c["alpha"], start=1):
        xi = xi + X.lit(aj) * X.sin(X.lit(2.0 * j) * xip)
    return xi


def _rectifying_phi(mu: E, c: dict) -> E:
    """Inverse of :func:`_meridian_xi`: rectifying latitude -> phi."""
    chi = mu
    for j, bj in enumerate(c["beta"], start=1):
        chi = chi - X.lit(bj) * X.sin(X.lit(2.0 * j) * mu)
    phi = _lat_series(chi, c["delta"])
    return phi


def _lonlat_to_eqc_fn(crs: str) -> Transform:
    c = _eqc_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        x = (X.lit(c["fe"])
             + X.lit(c["rc"]) * X.radians(lon - X.lit(c["lon0"])))
        phi = X.radians(lat)
        if c["sphere"]:
            return x, X.lit(c["fn"]) + X.lit(c["ry"]) * phi
        return x, X.lit(c["fn"]) + X.lit(c["ary"]) * _meridian_xi(phi, c)

    return single(fwd)


def _eqc_to_lonlat_fn(crs: str) -> Transform:
    c = _eqc_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        lon = (X.lit(c["lon0"])
               + X.degrees((x - X.lit(c["fe"])) / X.lit(c["rc"])))
        if c["sphere"]:
            return lon, X.degrees((y - X.lit(c["fn"])) / X.lit(c["ry"]))
        mu = (y - X.lit(c["fn"])) / X.lit(c["ary"])
        return lon, X.degrees(_rectifying_phi(mu, c))

    return single(inv)


# ---- equidistant conic (+proj=eqdc; Snyder ch. 16) ----------------------

#: crs -> (a, rf, lat_1, lat_2, lat_0, lon_0, false easting, false
#: northing).  rf = inf -> spherical (Snyder 16-1..16-4; one or two
#: standard parallels), finite -> ellipsoidal (16-12..16-15, the
#: meridian arc via the Krueger rectifying series — the TM family's
#: machinery, same as ellipsoidal eqc).  Regional mid-latitude maps
#: (the classic conic where neither conformality nor equal-area is
#: wanted: meridian scale is true everywhere).
EQDC_PARAMS: dict[str, tuple] = {}


def _eqdc_consts(crs: str) -> dict:
    a, rf, lat1, lat2, lat0, lon0, fe, fn = EQDC_PARAMS[crs.upper()]
    p1, p2, p0 = (math.radians(lat1), math.radians(lat2),
                  math.radians(lat0))
    if math.isinf(rf):
        n = math.sin(p1) if lat1 == lat2 \
            else (math.cos(p1) - math.cos(p2)) / (p2 - p1)
        g = math.cos(p1) / n + p1
        # rho in metres: R folded in so sphere/ellipsoid share shape
        return dict(sphere=True, a=a, n=n, ag=a * g,
                    rho0=a * (g - p0), lon0=lon0, fe=fe, fn=fn)
    if lat1 == lat2:
        raise NotImplementedError(
            "eqdc (ellipsoidal): coincident standard parallels are "
            "not supported (give lat_1 != lat_2, or a sphere)")
    f = 1.0 / rf
    e2 = f * (2.0 - f)
    e = math.sqrt(e2)
    alpha, beta, delta, ar = _tm_series(f)

    def m(p: float) -> float:  # Snyder 14-15
        s = math.sin(p)
        return math.cos(p) / math.sqrt(1.0 - e2 * s * s)

    def big_m(p: float) -> float:  # meridian arc (rectifying series)
        return a * ar * _tm_xi_scalar(p, e, alpha)

    n = a * (m(p1) - m(p2)) / (big_m(p2) - big_m(p1))  # Snyder 16-10
    g = m(p1) / n + big_m(p1) / a                      # Snyder 16-11
    return dict(sphere=False, a=a, e=e, alpha=alpha, beta=beta,
                delta=delta, ary=a * ar, n=n, ag=a * g,
                rho0=a * g - big_m(p0), lon0=lon0, fe=fe, fn=fn)


def _lonlat_to_eqdc_fn(crs: str) -> Transform:
    c = _eqdc_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        th = X.lit(c["n"]) * X.radians(lon - X.lit(c["lon0"]))
        if c["sphere"]:
            rho = X.lit(c["ag"]) - X.lit(c["a"]) * X.radians(lat)
        else:
            rho = X.lit(c["ag"]) - X.lit(c["ary"]) * _meridian_xi(
                X.radians(lat), c)
        x = X.lit(c["fe"]) + rho * X.sin(th)
        y = X.lit(c["fn"]) + X.lit(c["rho0"]) - rho * X.cos(th)
        return x, y

    return single(fwd)


def _eqdc_to_lonlat_fn(crs: str) -> Transform:
    c = _eqdc_consts(crs)
    sgn = 1.0 if c["n"] >= 0.0 else -1.0

    def inv(x: E, y: E) -> tuple[E, E]:
        xe = x - X.lit(c["fe"])
        yr = X.lit(c["rho0"]) - (y - X.lit(c["fn"]))
        rho = X.lit(sgn) * X.sqrt(xe * xe + yr * yr)
        th = X.atan2(X.lit(sgn) * xe, X.lit(sgn) * yr)
        lam = th / X.lit(c["n"])
        if c["sphere"]:
            phi = (X.lit(c["ag"]) - rho) / X.lit(c["a"])
        else:
            phi = _rectifying_phi(
                (X.lit(c["ag"]) - rho) / X.lit(c["ary"]), c)
        return X.lit(c["lon0"]) + X.degrees(lam), X.degrees(phi)

    return single(inv)


# ---- Swiss oblique Mercator (+proj=somerc) ----------------------------
#
# The Swiss "double projection" (swisstopo's published formulas; PROJ's
# somerc): ellipsoid -> conformal sphere (exponent alpha, constant K,
# conformal-sphere radius R at the projection centre), rotate the
# sphere so the centre becomes the pseudo-equator origin, then the
# equatorial spherical Mercator.  CH1903/LV03 (EPSG:21781) and
# CH1903+/LV95 (EPSG:2056) carry their published towgs84 translation
# (674.374, 15.056, 405.346 m) so WGS84 lon/lat reprojects through the
# same datum hop pyproj applies (the reference reaches both through
# pyproj, core/gridmapping/transform.py).  Forward validated against
# the swisstopo worked example (E 700000 / N 100000 <-> WGS84
# 8°43'49.79"E 46°02'38.87"N, <5 cm).

_CH_LAT0 = 46.0 + 57.0 / 60.0 + 8.66 / 3600.0
_CH_LON0 = 7.0 + 26.0 / 60.0 + 22.5 / 3600.0
#: CH1903(+) -> WGS84 position-vector Helmert (translation-only),
#: the published +towgs84=674.374,15.056,405.346
_CH_TOWGS84 = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)

#: crs -> (a, rf, lat0, lon0, k0, false easting, false northing,
#:         towgs84 7-tuple local->WGS84 or None)
SOMERC_PARAMS: dict[str, tuple] = {
    "EPSG:21781": (6_377_397.155, 299.1528128, _CH_LAT0, _CH_LON0,
                   1.0, 600_000.0, 200_000.0, _CH_TOWGS84),
    "EPSG:2056": (6_377_397.155, 299.1528128, _CH_LAT0, _CH_LON0,
                  1.0, 2_600_000.0, 1_200_000.0, _CH_TOWGS84),
}

#: fixed iteration count of the isometric->geodetic latitude solve
#: (same discipline as _STEREA_ITERS: both engines run the SAME count)
_SOMERC_ITERS = 4


def _somerc_consts(crs: str) -> dict:
    a, rf, lat0, lon0, k0, fe, fn, towgs84 = SOMERC_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phi0 = math.radians(lat0)
    s0 = math.sin(phi0)
    alpha = math.sqrt(1.0 + es * math.cos(phi0) ** 4 / (1.0 - es))
    big_r = k0 * a * math.sqrt(1.0 - es) / (1.0 - es * s0 * s0)
    b0 = math.asin(s0 / alpha)
    psi0 = (math.log(math.tan(math.pi / 4.0 + phi0 / 2.0))
            - e / 2.0 * math.log((1.0 + e * s0) / (1.0 - e * s0)))
    k_const = math.log(math.tan(math.pi / 4.0 + b0 / 2.0)) - alpha * psi0
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, e=e, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        alpha=alpha, big_r=big_r, k=k_const,
        sb0=math.sin(b0), cb0=math.cos(b0),
        lam0=math.radians(lon0), lon0=lon0, fe=fe, fn=fn,
        towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _datum_hop_fwd_stages(helm_fwd: tuple, a_l: float, es_l: float,
                          b_l: float, ep2_l: float) -> list[dict]:
    """WGS84 geodetic radians (``__lamw``/``__phiw``) -> local-datum
    geodetic radians (``__lam``/``__phi``) as FINE stages (one small
    expression per alias): coarse stages that re-inline the whole
    geodetic->XYZ tree per output column send the optimizer into a
    multi-minute substitution blowup once the gather join is added."""
    return [
        {"__spw": lambda env: X.sin(env["__phiw"]),
         "__cpw": lambda env: X.cos(env["__phiw"])},
        {"__nuw": lambda env: X.lit(_WGS_A) / X.sqrt(
            X.lit(1.0) - X.lit(_WGS_E2)
            * env["__spw"] * env["__spw"])},
        {"__Xw": lambda env: env["__nuw"] * env["__cpw"]
            * X.cos(env["__lamw"]),
         "__Yw": lambda env: env["__nuw"] * env["__cpw"]
            * X.sin(env["__lamw"]),
         "__Zw": lambda env: env["__nuw"] * X.lit(1.0 - _WGS_E2)
            * env["__spw"]},
        {"__Xl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[0],
         "__Yl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[1],
         "__Zl": lambda env: _helmert(
            env["__Xw"], env["__Yw"], env["__Zw"], helm_fwd)[2]},
        {"__pl": lambda env: X.sqrt(env["__Xl"] * env["__Xl"]
                                    + env["__Yl"] * env["__Yl"])},
        {"__thl": lambda env: X.atan2(env["__Zl"] * X.lit(a_l),
                                      env["__pl"] * X.lit(b_l))},
        {"__lam": lambda env: X.atan2(env["__Yl"], env["__Xl"]),
         "__phi": lambda env: X.atan2(
            env["__Zl"] + X.lit(ep2_l * b_l)
            * X.pow(X.sin(env["__thl"]), X.lit(3.0)),
            env["__pl"] - X.lit(es_l * a_l)
            * X.pow(X.cos(env["__thl"]), X.lit(3.0)))},
    ]


def _wgs84_to_local(c: dict) -> list[dict]:
    """Stages from WGS84 lon/lat inputs to the CRS's local geodetic
    radians ``__lam``/``__phi``: the datum hop when the CRS carries a
    towgs84 (``c["helm_fwd"]``), else a rename."""
    stages: list[dict] = [
        {"__lamw": lambda env: X.radians(env["__in_x"]),
         "__phiw": lambda env: X.radians(env["__in_y"])},
    ]
    if c["helm_fwd"] is None:
        return stages + [{"__lam": lambda env: env["__lamw"],
                          "__phi": lambda env: env["__phiw"]}]
    return stages + _datum_hop_fwd_stages(
        c["helm_fwd"], c["a"], c["es"], c["b_ell"], c["ep2"])


def _datum_hop_inv_stages(towgs84: tuple, a_l: float,
                          es_l: float) -> list[dict]:
    """Local-datum geodetic radians (``__lam``/``__phi``) -> WGS84
    degrees (``__out_x``/``__out_y``), same fine staging."""
    return [
        {"__sp": lambda env: X.sin(env["__phi"]),
         "__cp": lambda env: X.cos(env["__phi"])},
        {"__nu": lambda env: X.lit(a_l) / X.sqrt(
            X.lit(1.0) - X.lit(es_l) * env["__sp"] * env["__sp"])},
        {"__Xl": lambda env: env["__nu"] * env["__cp"]
            * X.cos(env["__lam"]),
         "__Yl": lambda env: env["__nu"] * env["__cp"]
            * X.sin(env["__lam"]),
         "__Zl": lambda env: env["__nu"] * X.lit(1.0 - es_l)
            * env["__sp"]},
        {"__Xw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[0],
         "__Yw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[1],
         "__Zw": lambda env: _helmert(
            env["__Xl"], env["__Yl"], env["__Zl"], towgs84)[2]},
        {"__p": lambda env: X.sqrt(env["__Xw"] * env["__Xw"]
                                   + env["__Yw"] * env["__Yw"])},
        {"__th": lambda env: X.atan2(env["__Zw"] * X.lit(_WGS_A),
                                     env["__p"] * X.lit(_WGS_B))},
        {"__out_x": lambda env: X.degrees(
            X.atan2(env["__Yw"], env["__Xw"])),
         "__out_y": lambda env: X.degrees(X.atan2(
            env["__Zw"] + X.lit(_WGS_EP2 * _WGS_B)
            * X.pow(X.sin(env["__th"]), X.lit(3.0)),
            env["__p"] - X.lit(_WGS_E2 * _WGS_A)
            * X.pow(X.cos(env["__th"]), X.lit(3.0))))},
    ]


def _lonlat_to_somerc_fn(crs: str) -> Transform:
    """lon/lat (deg; WGS84 when the CRS carries a towgs84, else the
    projection ellipsoid's own datum) -> Swiss-Mercator E/N."""
    c = _somerc_consts(crs)
    e, alpha = c["e"], c["alpha"]

    stages = _wgs84_to_local(c)

    def s_psi(env):
        s = X.sin(env["__phi"])
        return (X.log(X.tan(X.lit(math.pi / 4.0) + env["__phi"]
                            / X.lit(2.0)))
                - X.lit(e / 2.0) * X.log((X.lit(1.0) + X.lit(e) * s)
                                         / (X.lit(1.0) - X.lit(e) * s)))

    def s_b(env):
        return (X.lit(2.0) * X.atan(X.exp(
            X.lit(alpha) * env["__psi"] + X.lit(c["k"])))
            - X.lit(math.pi / 2.0))

    def s_l(env):
        return X.lit(alpha) * (env["__lam"] - X.lit(c["lam0"]))

    def s_sbb(env):
        return (X.lit(c["cb0"]) * X.sin(env["__b"])
                - X.lit(c["sb0"]) * X.cos(env["__b"])
                * X.cos(env["__l"]))

    def out_x(env):
        xp = (X.lit(c["cb0"]) * X.cos(env["__b"]) * X.cos(env["__l"])
              + X.lit(c["sb0"]) * X.sin(env["__b"]))
        yp = X.cos(env["__b"]) * X.sin(env["__l"])
        return X.lit(c["fe"]) + X.lit(c["big_r"]) * X.atan2(yp, xp)

    def out_y(env):
        sbb = env["__sbb"]
        return (X.lit(c["fn"]) + X.lit(c["big_r"]) / X.lit(2.0)
                * X.log((X.lit(1.0) + sbb) / (X.lit(1.0) - sbb)))

    stages += [
        {"__psi": s_psi},
        {"__b": s_b, "__l": s_l},
        {"__sbb": s_sbb},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return staged(stages)


def _somerc_to_lonlat_fn(crs: str) -> Transform:
    """E/N -> lon/lat: spherical Mercator inverse, un-rotate, then the
    fixed-count isometric->geodetic solve; a Bessel->WGS84 datum hop
    when the CRS carries a towgs84."""
    c = _somerc_consts(crs)
    e, es, alpha = c["e"], c["es"], c["alpha"]

    def s_lbar(env):
        return (env["__in_x"] - X.lit(c["fe"])) / X.lit(c["big_r"])

    def s_bbar(env):
        return (X.lit(2.0) * X.atan(X.exp(
            (env["__in_y"] - X.lit(c["fn"])) / X.lit(c["big_r"])))
            - X.lit(math.pi / 2.0))

    def s_b(env):
        return X.asin(X.lit(c["cb0"]) * X.sin(env["__bb"])
                      + X.lit(c["sb0"]) * X.cos(env["__bb"])
                      * X.cos(env["__lb"]))

    def s_lam(env):
        return X.lit(c["lam0"]) + X.atan2(
            X.cos(env["__bb"]) * X.sin(env["__lb"]),
            X.lit(c["cb0"]) * X.cos(env["__bb"]) * X.cos(env["__lb"])
            - X.lit(c["sb0"]) * X.sin(env["__bb"])) / X.lit(alpha)

    def s_psit(env):
        return (X.log(X.tan(X.lit(math.pi / 4.0) + env["__b"]
                            / X.lit(2.0)))
                - X.lit(c["k"])) / X.lit(alpha)

    def s_phi0(env):
        return (X.lit(2.0) * X.atan(X.exp(env["__psit"]))
                - X.lit(math.pi / 2.0))

    def step(env):
        phi = env["__phi"]
        sphi = X.sin(phi)
        psii = (X.log(X.tan(phi / X.lit(2.0) + X.lit(math.pi / 4.0)))
                - X.lit(e / 2.0)
                * X.log((X.lit(1.0) + X.lit(e) * sphi)
                        / (X.lit(1.0) - X.lit(e) * sphi)))
        return phi - (psii - env["__psit"]) * X.cos(phi) \
            * (X.lit(1.0) - X.lit(es) * sphi * sphi) / X.lit(1.0 - es)

    stages: list[dict] = [
        {"__lb": s_lbar, "__bb": s_bbar},
        {"__b": s_b},
        {"__lam": s_lam, "__psit": s_psit},
        {"__phi": s_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_SOMERC_ITERS)]
    if c["towgs84"] is None:
        stages.append({"__out_x": lambda env: X.degrees(env["__lam"]),
                       "__out_y": lambda env: X.degrees(env["__phi"])})
        return staged(stages)
    stages += _datum_hop_inv_stages(c["towgs84"], c["a"], es)
    return staged(stages)


# ---- Krovak (+proj=krovak, S-JTSK) ------------------------------------
#
# EPSG method 9819: conformal sphere (Gauss exponent B, constant t0),
# rotate onto the oblique cone axis (co-latitude alphaC through the
# pseudo standard parallel phiP), then a tangent conic.  The axis
# meridian is 42°30' east of Ferro = 24°50' east of Greenwich (PROJ's
# +lon_0 spelling, which this family follows); the EPSG GN7-2 worked
# example reproduces to <2 cm (tests).  EPSG:5514 (Krovak East
# North, the Czech/Slovak national CRS) carries its published towgs84
# translation (589, 76, 480) so WGS84 lon/lat hops datums like
# pyproj; its E/N axes are the NEGATED westing/southing.  +czech in a
# PROJ string selects positive southing/westing instead (EPSG:2065
# axis convention).

#: crs -> (a, rf, latC, lon0 [Greenwich], alphaC, phiP, kP,
#:         x_0, y_0, czech_sign, towgs84 local->WGS84 or None)
KROVAK_PARAMS: dict[str, tuple] = {
    "EPSG:5514": (6_377_397.155, 299.1528128, 49.5,
                  24.0 + 50.0 / 60.0,
                  30.0 + 17.0 / 60.0 + 17.3031 / 3600.0,
                  78.5, 0.9999, 0.0, 0.0, False,
                  (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0)),
}

#: fixed iteration count of the conformal->geodetic latitude solve
_KROVAK_ITERS = 4


def _krovak_consts(crs: str) -> dict:
    (a, rf, lat_c, lon0, alpha_c, phi_p, kp, x0, y0, czech,
     towgs84) = KROVAK_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    phic = math.radians(lat_c)
    sc = math.sin(phic)
    big_a = a * math.sqrt(1.0 - es) / (1.0 - es * sc * sc)
    b = math.sqrt(1.0 + es * math.cos(phic) ** 4 / (1.0 - es))
    gamma0 = math.asin(sc / b)
    t0 = (math.tan(math.pi / 4.0 + gamma0 / 2.0)
          * ((1.0 + e * sc) / (1.0 - e * sc)) ** (e * b / 2.0)
          / math.tan(math.pi / 4.0 + phic / 2.0) ** b)
    phip = math.radians(phi_p)
    n = math.sin(phip)
    r0 = kp * big_a / math.tan(phip)
    alphac = math.radians(alpha_c)
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, e=e, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        b=b, t0=t0, n=n, r0=r0,
        sa=math.sin(alphac), ca=math.cos(alphac),
        tp=math.tan(math.pi / 4.0 + phip / 2.0),
        lam0=math.radians(lon0), x0=x0, y0=y0,
        sgn=1.0 if czech else -1.0, towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _lonlat_to_krovak_fn(crs: str) -> Transform:
    """lon/lat (deg; WGS84 when the CRS carries a towgs84) -> Krovak
    E/N (EPSG 9819 forward, staged)."""
    c = _krovak_consts(crs)
    e, b = c["e"], c["b"]

    stages = _wgs84_to_local(c)

    def s_u(env):
        s = X.sin(env["__phi"])
        return X.lit(2.0) * (X.atan(
            X.lit(c["t0"])
            * X.pow(X.tan(env["__phi"] / X.lit(2.0)
                          + X.lit(math.pi / 4.0)), X.lit(b))
            / X.pow((X.lit(1.0) + X.lit(e) * s)
                    / (X.lit(1.0) - X.lit(e) * s), X.lit(e * b / 2.0)))
            - X.lit(math.pi / 4.0))

    def s_v(env):
        return X.lit(b) * (X.lit(c["lam0"]) - env["__lam"])

    def s_t(env):
        return X.asin(X.lit(c["ca"]) * X.sin(env["__U"])
                      + X.lit(c["sa"]) * X.cos(env["__U"])
                      * X.cos(env["__V"]))

    def s_d(env):
        return X.asin(X.cos(env["__U"]) * X.sin(env["__V"])
                      / X.cos(env["__T"]))

    def s_r(env):
        return (X.lit(c["r0"]) * X.lit(c["tp"] ** c["n"])
                / X.pow(X.tan(env["__T"] / X.lit(2.0)
                              + X.lit(math.pi / 4.0)), X.lit(c["n"])))

    def out_x(env):  # easting = sgn * westing + x_0
        return (X.lit(c["sgn"]) * env["__r"]
                * X.sin(X.lit(c["n"]) * env["__D"]) + X.lit(c["x0"]))

    def out_y(env):  # northing = sgn * southing + y_0
        return (X.lit(c["sgn"]) * env["__r"]
                * X.cos(X.lit(c["n"]) * env["__D"]) + X.lit(c["y0"]))

    stages += [
        {"__U": s_u, "__V": s_v},
        {"__T": s_t},
        {"__D": s_d, "__r": s_r},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return staged(stages)


def _krovak_to_lonlat_fn(crs: str) -> Transform:
    """Krovak E/N -> lon/lat (EPSG 9819 inverse): un-cone, un-rotate,
    then the fixed-count conformal->geodetic solve; a Bessel->WGS84
    hop when the CRS carries a towgs84."""
    c = _krovak_consts(crs)
    e, es, b = c["e"], c["es"], c["b"]

    def s_xs(env):  # southing
        return X.lit(c["sgn"]) * (env["__in_y"] - X.lit(c["y0"]))

    def s_yw(env):  # westing
        return X.lit(c["sgn"]) * (env["__in_x"] - X.lit(c["x0"]))

    def s_r(env):
        return X.sqrt(env["__sth"] * env["__sth"]
                      + env["__wst"] * env["__wst"])

    def s_d(env):
        return X.atan2(env["__wst"], env["__sth"]) / X.lit(c["n"])

    def s_t(env):
        return X.lit(2.0) * (X.atan(
            X.pow(X.lit(c["r0"]) / env["__r"], X.lit(1.0 / c["n"]))
            * X.lit(c["tp"])) - X.lit(math.pi / 4.0))

    def s_u(env):
        return X.asin(X.lit(c["ca"]) * X.sin(env["__T"])
                      - X.lit(c["sa"]) * X.cos(env["__T"])
                      * X.cos(env["__D"]))

    def s_lam(env):
        return X.lit(c["lam0"]) - X.asin(
            X.cos(env["__T"]) * X.sin(env["__D"])
            / X.cos(env["__U"])) / X.lit(b)

    def s_phi0(env):
        return env["__U"]

    def step(env):
        s = X.sin(env["__phi"])
        return X.lit(2.0) * (X.atan(
            X.lit(c["t0"] ** (-1.0 / b))
            * X.pow(X.tan(env["__U"] / X.lit(2.0)
                          + X.lit(math.pi / 4.0)), X.lit(1.0 / b))
            * X.pow((X.lit(1.0) + X.lit(e) * s)
                    / (X.lit(1.0) - X.lit(e) * s), X.lit(e / 2.0)))
            - X.lit(math.pi / 4.0))

    stages: list[dict] = [
        {"__sth": s_xs, "__wst": s_yw},
        {"__r": s_r},
        {"__D": s_d, "__T": s_t},
        {"__U": s_u},
        {"__lam": s_lam, "__phi": s_phi0},
    ]
    stages += [{"__phi": step} for _ in range(_KROVAK_ITERS)]
    if c["towgs84"] is None:
        stages.append({"__out_x": lambda env: X.degrees(env["__lam"]),
                       "__out_y": lambda env: X.degrees(env["__phi"])})
        return staged(stages)
    stages += _datum_hop_inv_stages(c["towgs84"], c["a"], es)
    return staged(stages)


# ---- Equal Earth (+proj=eqearth, EPSG:8857) ---------------------------
#
# The Savric/Patterson/Jenny (2018) equal-area pseudocylindrical:
# y = Rq h(theta) with the published 4-term polynomial h, x = Rq
# lambda cos(theta) / (M h'(theta)), sin(theta) = M sin(beta),
# M = sqrt(3)/2.  EPSG:8857 (method 1078) runs it on the WGS84
# AUTHALIC sphere (beta = authalic latitude, Rq = a sqrt(qp/2));
# +R spherical forms use beta = phi directly.  Anchored on the
# published EPSG:8857 projected extent (+-17243959.06 m x
# +-8392927.60 m) and the equal-area property (tests).

#: the published projection polynomial
_EQE_A1, _EQE_A2, _EQE_A3, _EQE_A4 = 1.340264, -0.081106, 0.000893, 0.003796
_EQE_M = math.sqrt(3.0) / 2.0

#: crs -> (a, rf, lon0, false easting, false northing)
EQEARTH_PARAMS: dict[str, tuple] = {
    "EPSG:8857": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0),
}

#: fixed Newton iteration count of the theta solve (both engines run
#: the same count; quadratic from theta0 = y/(Rq A1))
_EQE_ITERS = 5


def _eqearth_consts(crs: str) -> dict:
    a, rf, lon0, fe, fn = EQEARTH_PARAMS[crs.upper()]
    if math.isinf(rf):
        return dict(a=a, es=0.0, e=0.0, sphere=True, qp=2.0, rq=a,
                    lon0=lon0, fe=fe, fn=fn, c2=0.0, c4=0.0, c6=0.0)
    f = 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    qp = (1.0 - es) * (1.0 / (1.0 - es)
                       - 1.0 / (2.0 * e)
                       * math.log((1.0 - e) / (1.0 + e)))
    return dict(
        a=a, es=es, e=e, sphere=False, qp=qp,
        rq=a * math.sqrt(qp / 2.0), lon0=lon0, fe=fe, fn=fn,
        # authalic -> geodetic series (Snyder eq. 3-18)
        c2=es / 3.0 + 31.0 * es ** 2 / 180.0 + 517.0 * es ** 3 / 5040.0,
        c4=23.0 * es ** 2 / 360.0 + 251.0 * es ** 3 / 3780.0,
        c6=761.0 * es ** 3 / 45360.0,
    )


def _eqe_h(t):
    """h(theta), the published Equal Earth polynomial."""
    return (t * (X.lit(_EQE_A1) + X.lit(_EQE_A2) * t * t)
            + X.pow(t, X.lit(7.0)) * (X.lit(_EQE_A3)
                                      + X.lit(_EQE_A4) * t * t))


def _eqe_hp(t):
    return (X.lit(_EQE_A1) + X.lit(3.0 * _EQE_A2) * t * t
            + X.pow(t, X.lit(6.0)) * (X.lit(7.0 * _EQE_A3)
                                      + X.lit(9.0 * _EQE_A4) * t * t))


def _lonlat_to_eqearth_fn(crs: str) -> Transform:
    """lon/lat (deg) -> Equal Earth E/N (staged)."""
    c = _eqearth_consts(crs)
    e, es = c["e"], c["es"]

    def s_beta(env):
        phi = X.radians(env["__in_y"])
        if c["sphere"]:
            return phi
        s = X.sin(phi)
        q = X.lit(1.0 - es) * (
            s / (X.lit(1.0) - X.lit(es) * s * s)
            - X.lit(1.0 / (2.0 * e))
            * X.log((X.lit(1.0) - X.lit(e) * s)
                    / (X.lit(1.0) + X.lit(e) * s)))
        return X.asin(q / X.lit(c["qp"]))

    def s_th(env):
        return X.asin(X.lit(_EQE_M) * X.sin(env["__beta"]))

    def out_x(env):
        th = env["__th"]
        return (X.lit(c["fe"]) + X.lit(c["rq"])
                * X.radians(env["__in_x"] - X.lit(c["lon0"]))
                * X.cos(th) / (X.lit(_EQE_M) * _eqe_hp(th)))

    def out_y(env):
        return X.lit(c["fn"]) + X.lit(c["rq"]) * _eqe_h(env["__th"])

    return staged([
        {"__beta": s_beta},
        {"__th": s_th},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _eqearth_to_lonlat_fn(crs: str) -> Transform:
    """Equal Earth E/N -> lon/lat: fixed-count Newton theta solve,
    then the authalic->geodetic series."""
    c = _eqearth_consts(crs)

    def s_yn(env):
        return (env["__in_y"] - X.lit(c["fn"])) / X.lit(c["rq"])

    def s_th0(env):
        return env["__yn"] / X.lit(_EQE_A1)

    def step(env):
        th = env["__th"]
        return th - (_eqe_h(th) - env["__yn"]) / _eqe_hp(th)

    def s_beta(env):
        return X.asin(X.sin(env["__th"]) / X.lit(_EQE_M))

    def out_x(env):
        th = env["__th"]
        return X.lit(c["lon0"]) + X.degrees(
            (env["__in_x"] - X.lit(c["fe"])) * _eqe_hp(th)
            * X.lit(_EQE_M) / (X.lit(c["rq"]) * X.cos(th)))

    def out_y(env):
        b = env["__beta"]
        if c["sphere"]:
            return X.degrees(b)
        return X.degrees(_lat_series(b, (c["c2"], c["c4"], c["c6"])))

    stages: list[dict] = [{"__yn": s_yn}, {"__th": s_th0}]
    stages += [{"__th": step} for _ in range(_EQE_ITERS)]
    stages += [{"__beta": s_beta},
               {"__out_x": out_x, "__out_y": out_y}]
    return staged(stages)


# ---- Cassini-Soldner (+proj=cass) -------------------------------------
#
# EPSG method 9806 (the GN7-2 series forms, reproduced sub-mm on the
# published Trinidad worked example — tests).  EPSG:30200 (Trinidad
# 1903 / Trinidad Grid) works in CLARKE'S LINKS: the family's linear
# unit is whatever the parameter set is stated in, exactly like the
# reference reaches it through pyproj.  Datum-less (the GN7-2
# example's geodetic input is Trinidad 1903).

#: crs -> (a, rf, lat0, lon0, false easting, false northing)
CASS_PARAMS: dict[str, tuple] = {
    # Trinidad 1903 / Trinidad Grid — Clarke 1858, Clarke's links
    "EPSG:30200": (31_706_587.88, 294.260676369,
                   10.0 + 26.0 / 60.0 + 30.0 / 3600.0,
                   -(61.0 + 20.0 / 60.0), 430_000.0, 325_000.0),
}


def _cass_consts(crs: str) -> dict:
    a, rf, lat0, lon0, fe, fn = CASS_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    m_c0 = 1.0 - es / 4.0 - 3.0 * es * es / 64.0 - 5.0 * es ** 3 / 256.0
    m_c2 = 3.0 * es / 8.0 + 3.0 * es * es / 32.0 + 45.0 * es ** 3 / 1024.0
    m_c4 = 15.0 * es * es / 256.0 + 45.0 * es ** 3 / 1024.0
    m_c6 = 35.0 * es ** 3 / 3072.0
    phi0 = math.radians(lat0)
    m0 = a * (m_c0 * phi0 - m_c2 * math.sin(2.0 * phi0)
              + m_c4 * math.sin(4.0 * phi0)
              - m_c6 * math.sin(6.0 * phi0))
    e1 = (1.0 - math.sqrt(1.0 - es)) / (1.0 + math.sqrt(1.0 - es))
    return dict(
        a=a, es=es, fe=fe, fn=fn, lam0=math.radians(lon0), lon0=lon0,
        m0=m0, c0=m_c0, c2=m_c2, c4=m_c4, c6=m_c6,
        f1_2=3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0,
        f1_4=21.0 * e1 * e1 / 16.0 - 55.0 * e1 ** 4 / 32.0,
        f1_6=151.0 * e1 ** 3 / 96.0,
    )


def _lonlat_to_cass_fn(crs: str) -> Transform:
    """lon/lat (deg) -> Cassini-Soldner E/N (EPSG 9806 forward)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]

    def s_trig(env):
        return X.radians(env["__in_y"])

    def s_t(env):
        t = X.tan(env["__phi"])
        return t * t

    def s_aa(env):
        return ((X.radians(env["__in_x"]) - X.lit(c["lam0"]))
                * X.cos(env["__phi"]))

    def s_c(env):
        cp = X.cos(env["__phi"])
        return X.lit(es) * cp * cp / X.lit(1.0 - es)

    def s_nu(env):
        s = X.sin(env["__phi"])
        return X.lit(a) / X.sqrt(X.lit(1.0) - X.lit(es) * s * s)

    def s_m(env):
        return _meridian_arc(env["__phi"], c)

    def out_x(env):
        aa, t = env["__A"], env["__T"]
        return X.lit(c["fe"]) + env["__nu"] * (
            aa - t * X.pow(aa, X.lit(3.0)) / X.lit(6.0)
            - (X.lit(8.0) - t + X.lit(8.0) * env["__C"]) * t
            * X.pow(aa, X.lit(5.0)) / X.lit(120.0))

    def out_y(env):
        aa, t = env["__A"], env["__T"]
        return (X.lit(c["fn"]) + env["__M"] - X.lit(c["m0"])
                + env["__nu"] * X.tan(env["__phi"]) * (
                    aa * aa / X.lit(2.0)
                    + (X.lit(5.0) - t + X.lit(6.0) * env["__C"])
                    * X.pow(aa, X.lit(4.0)) / X.lit(24.0)))

    return staged([
        {"__phi": s_trig},
        {"__T": s_t, "__A": s_aa, "__C": s_c, "__nu": s_nu,
         "__M": s_m},
        {"__out_x": out_x, "__out_y": out_y},
    ])


def _cass_to_lonlat_fn(crs: str) -> Transform:
    """Cassini-Soldner E/N -> lon/lat (EPSG 9806 inverse: rectifying
    latitude series, then the transverse D-expansion)."""
    c = _cass_consts(crs)
    a, es = c["a"], c["es"]

    def s_mu(env):
        return ((X.lit(c["m0"]) + (env["__in_y"] - X.lit(c["fn"])))
                / X.lit(a * c["c0"]))

    def s_phi1(env):
        return _lat_series(env["__mu"], (c["f1_2"], c["f1_4"], c["f1_6"]))

    def s_t1(env):
        t = X.tan(env["__phi1"])
        return t * t

    def s_nu1(env):
        s = X.sin(env["__phi1"])
        return X.lit(a) / X.sqrt(X.lit(1.0) - X.lit(es) * s * s)

    def s_rho1(env):
        s = X.sin(env["__phi1"])
        return (X.lit(a * (1.0 - es))
                / X.pow(X.lit(1.0) - X.lit(es) * s * s, X.lit(1.5)))

    def s_d(env):
        return (env["__in_x"] - X.lit(c["fe"])) / env["__nu1"]

    def out_y(env):
        d, t1 = env["__D"], env["__T1"]
        return X.degrees(
            env["__phi1"] - (env["__nu1"] * X.tan(env["__phi1"])
                             / env["__rho1"])
            * (d * d / X.lit(2.0) - (X.lit(1.0) + X.lit(3.0) * t1)
               * X.pow(d, X.lit(4.0)) / X.lit(24.0)))

    def out_x(env):
        d, t1 = env["__D"], env["__T1"]
        return X.degrees(
            X.lit(c["lam0"])
            + (d - t1 * X.pow(d, X.lit(3.0)) / X.lit(3.0)
               + (X.lit(1.0) + X.lit(3.0) * t1) * t1
               * X.pow(d, X.lit(5.0)) / X.lit(15.0))
            / X.cos(env["__phi1"]))

    return staged([
        {"__mu": s_mu},
        {"__phi1": s_phi1},
        {"__T1": s_t1, "__nu1": s_nu1, "__rho1": s_rho1},
        {"__D": s_d},
        {"__out_x": out_x, "__out_y": out_y},
    ])


# ---- American Polyconic (+proj=poly) ----------------------------------
#
# EPSG method 9818 / Snyder ch. 18 (forward 18-12..15, inverse the
# 18-18 Newton on the meridian-arc identity; both reproduce Snyder's
# Clarke-1866 worked example to the published 0.1 m — tests).
# EPSG:29101 (SAD69 / Brazil Polyconic, GRS67) is registered
# DATUM-LESS: the published SAD69->WGS84 shifts differ per
# realization, so the EPSG code takes lon/lat on its own datum;
# +towgs84 in a PROJ string opts into an explicit hop.  The equator
# row (phi = 0, where the cone degenerates to the tangent cylinder)
# is closed-form-guarded on both engines.

#: crs -> (a, rf, lat0, lon0, fe, fn, towgs84 local->WGS84 or None)
POLY_PARAMS: dict[str, tuple] = {
    # SAD69 / Brazil Polyconic (GRS 1967 modified)
    "EPSG:29101": (6_378_160.0, 298.25, 0.0, -54.0,
                   5_000_000.0, 10_000_000.0, None),
}

#: fixed iteration count of the Snyder 18-18 Newton solve
_POLY_ITERS = 5


def _poly_consts(crs: str) -> dict:
    a, rf, lat0, lon0, fe, fn, towgs84 = POLY_PARAMS[crs.upper()]
    f = 1.0 / rf
    es = f * (2.0 - f)
    c0 = 1.0 - es / 4.0 - 3.0 * es * es / 64.0 - 5.0 * es ** 3 / 256.0
    c2 = 3.0 * es / 8.0 + 3.0 * es * es / 32.0 + 45.0 * es ** 3 / 1024.0
    c4 = 15.0 * es * es / 256.0 + 45.0 * es ** 3 / 1024.0
    c6 = 35.0 * es ** 3 / 3072.0
    phi0 = math.radians(lat0)
    m0 = a * (c0 * phi0 - c2 * math.sin(2.0 * phi0)
              + c4 * math.sin(4.0 * phi0) - c6 * math.sin(6.0 * phi0))
    b_ell = a * (1.0 - f)
    return dict(
        a=a, es=es, b_ell=b_ell,
        ep2=(a * a - b_ell * b_ell) / (b_ell * b_ell),
        c0=c0, c2=c2, c4=c4, c6=c6, m0=m0,
        lam0=math.radians(lon0), fe=fe, fn=fn, towgs84=towgs84,
        helm_fwd=None if towgs84 is None else tuple(-v for v in towgs84),
    )


def _meridian_arc(phi: E, c: dict) -> E:
    """Meridian arc M(phi), Snyder 3-21 (cass and poly constants)."""
    return X.lit(c["a"]) * (
        X.lit(c["c0"]) * phi
        - X.lit(c["c2"]) * X.sin(X.lit(2.0) * phi)
        + X.lit(c["c4"]) * X.sin(X.lit(4.0) * phi)
        - X.lit(c["c6"]) * X.sin(X.lit(6.0) * phi))


def _lonlat_to_poly_fn(crs: str) -> Transform:
    """lon/lat (deg) -> polyconic E/N (Snyder 18-12..15, staged; the
    equator row takes the tangent-cylinder closed form)."""
    c = _poly_consts(crs)
    es = c["es"]

    stages = _wgs84_to_local(c)

    def s_e(env):
        return (env["__lam"] - X.lit(c["lam0"])) * X.sin(env["__phi"])

    def s_ncot(env):
        s = X.sin(env["__phi"])
        return (X.lit(c["a"]) / X.sqrt(X.lit(1.0) - X.lit(es) * s * s)
                / X.tan(env["__phi"]))

    def out_x(env):
        return X.lit(c["fe"]) + X.when(
            X.abs(env["__phi"]) < X.lit(1e-12),
            X.lit(c["a"]) * (env["__lam"] - X.lit(c["lam0"]))
        ).otherwise(env["__ncot"] * X.sin(env["__E"]))

    def out_y(env):
        return X.lit(c["fn"]) + X.when(
            X.abs(env["__phi"]) < X.lit(1e-12),
            X.lit(-c["m0"])
        ).otherwise(
            _meridian_arc(env["__phi"], c) - X.lit(c["m0"])
            + env["__ncot"] * (X.lit(1.0) - X.cos(env["__E"])))

    stages += [
        {"__E": s_e, "__ncot": s_ncot},
        {"__out_x": out_x, "__out_y": out_y},
    ]
    return staged(stages)


def _poly_to_lonlat_fn(crs: str) -> Transform:
    """Polyconic E/N -> lon/lat (Snyder 18-18 fixed-count Newton on
    the meridian-arc identity)."""
    c = _poly_consts(crs)
    a, es = c["a"], c["es"]

    def s_ab(env):
        return (X.lit(c["m0"]) + (env["__in_y"] - X.lit(c["fn"]))) \
            / X.lit(a)

    def s_xa(env):
        return (env["__in_x"] - X.lit(c["fe"])) / X.lit(a)

    def s_b(env):
        return env["__A"] * env["__A"] + env["__xa"] * env["__xa"]

    def s_phi0(env):
        return env["__A"]

    def s_s2(env):
        return X.sin(X.lit(2.0) * env["__phi"])

    def s_c(env):
        s = X.sin(env["__phi"])
        return (X.sqrt(X.lit(1.0) - X.lit(es) * s * s)
                * X.tan(env["__phi"]))

    def s_ma(env):
        return _meridian_arc(env["__phi"], c) / X.lit(a)

    def s_mp(env):
        phi = env["__phi"]
        return (X.lit(c["c0"])
                - X.lit(2.0 * c["c2"]) * X.cos(X.lit(2.0) * phi)
                + X.lit(4.0 * c["c4"]) * X.cos(X.lit(4.0) * phi)
                - X.lit(6.0 * c["c6"]) * X.cos(X.lit(6.0) * phi))

    def s_step(env):
        aa, bb = env["__A"], env["__B"]
        cc, ma, mp = env["__C"], env["__Ma"], env["__Mp"]
        num = (aa * (cc * ma + X.lit(1.0)) - ma
               - X.lit(0.5) * cc * (ma * ma + bb))
        den = (X.lit(es) * env["__s2"] * (ma * ma + bb
                                          - X.lit(2.0) * aa * ma)
               / (X.lit(4.0) * cc)
               + (aa - ma) * (cc * mp - X.lit(2.0) / env["__s2"])
               - mp)
        return env["__phi"] - num / den

    def out_y(env):
        return X.when(X.abs(env["__A"]) < X.lit(1e-12), X.lit(0.0)) \
            .otherwise(X.degrees(env["__phi"]))

    def out_x(env):
        s = X.sin(env["__phi"])
        lam = X.when(
            X.abs(env["__A"]) < X.lit(1e-12),
            X.lit(c["lam0"]) + env["__xa"]
        ).otherwise(
            X.lit(c["lam0"]) + X.asin(
                env["__xa"] * X.sqrt(X.lit(1.0) - X.lit(es) * s * s)
                * X.tan(env["__phi"])) / s)
        return X.degrees(lam)

    stages: list[dict] = [
        {"__A": s_ab, "__xa": s_xa},
        {"__B": s_b},
        {"__phi": s_phi0},
    ]
    for _ in range(_POLY_ITERS):
        stages.append({"__s2": s_s2, "__C": s_c, "__Ma": s_ma,
                       "__Mp": s_mp})
        stages.append({"__phi": s_step})
    stages.append({"__out_x": out_x, "__out_y": out_y})
    return staged(stages)


# ---- Lambert cylindrical equal-area (EASE-Grid 2.0 and kin) -----------
#
# EPSG method 9835 (ellipsoidal CEA, Snyder eqs. 10-1/10-2 with the
# 3-12 authalic q and the 3-18 beta->phi series).  The NSIDC EASE-Grid
# 2.0 global grid (EPSG:6933, WGS84, standard parallel 30) is the
# canonical user (SMAP, AMSR soil-moisture/snow products); the
# reference reaches it through pyproj (core/gridmapping/transform.py).

#: crs -> (a, rf, lat_ts, lon0, false easting, false northing)
CEA_PARAMS: dict[str, tuple] = {
    # EASE-Grid 2.0 Global (NSIDC)
    "EPSG:6933": (6_378_137.0, 298.257223563, 30.0, 0.0, 0.0, 0.0),
    # World Cylindrical Equal Area
    "ESRI:54034": (6_378_137.0, 298.257223563, 0.0, 0.0, 0.0, 0.0),
}


def _cea_consts(crs: str) -> dict:
    a, rf, lat_ts, lon0, fe, fn = CEA_PARAMS[crs.upper()]
    f = 0.0 if math.isinf(rf) else 1.0 / rf
    es = f * (2.0 - f)
    e = math.sqrt(es)
    s1 = math.sin(math.radians(lat_ts))
    k0 = math.cos(math.radians(lat_ts)) / math.sqrt(1.0 - es * s1 * s1)

    def q_of(s: float) -> float:
        if es == 0.0:
            return 2.0 * s
        return (1.0 - es) * (
            s / (1.0 - es * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))

    series = (
        es / 3.0 + 31.0 * es ** 2 / 180.0 + 517.0 * es ** 3 / 5040.0,
        23.0 * es ** 2 / 360.0 + 251.0 * es ** 3 / 3780.0,
        761.0 * es ** 3 / 45360.0,
    )
    return dict(a=a, e=e, es=es, k0=k0, lon0=lon0, fe=fe, fn=fn,
                qp=q_of(1.0), series=series)


def _lonlat_to_cea_fn(crs: str) -> Transform:
    c = _cea_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        x = (X.lit(c["fe"])
             + X.lit(c["a"] * c["k0"]) * X.radians(lon - X.lit(c["lon0"])))
        s = X.sin(X.radians(lat))
        if c["es"] == 0.0:
            q = X.lit(2.0) * s
        else:
            es, e = c["es"], c["e"]
            q = X.lit(1.0 - es) * (
                s / (X.lit(1.0) - X.lit(es) * s * s)
                - X.lit(1.0 / (2.0 * e))
                * X.log((X.lit(1.0) - X.lit(e) * s)
                        / (X.lit(1.0) + X.lit(e) * s)))
        y = X.lit(c["fn"]) + X.lit(c["a"]) * q / X.lit(2.0 * c["k0"])
        return x, y

    return single(fwd)


def _cea_to_lonlat_fn(crs: str) -> Transform:
    c = _cea_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        lon = (X.lit(c["lon0"])
               + X.degrees((x - X.lit(c["fe"])) / X.lit(c["a"] * c["k0"])))
        beta = X.asin((y - X.lit(c["fn"]))
                      * X.lit(2.0 * c["k0"] / c["a"]) / X.lit(c["qp"]))
        phi = _lat_series(beta, c["series"])
        return lon, X.degrees(phi)

    return single(inv)


# ---- Lambert azimuthal equal-area (EPSG:3035 and kin) -----------------
#
# The reference's most common European target grid (ETRS89-LAEA) goes
# through pyproj (core/gridmapping/transform.py).  Ellipsoidal LAEA from
# Snyder 1987 (public math: eqs. 3-12 authalic latitude, 24-2..24-31 for
# the oblique aspect, 3-18 for the beta -> phi series).  Same design as
# UTM/polar above: one closed-form stage each way.

#: GRS80 ellipsoid (ETRS89 datum): negligibly different from WGS84, but
#: stated precisely so both engines run the same constants
_F_GRS80 = 1.0 / 298.257222101
_E2_G = _F_GRS80 * (2.0 - _F_GRS80)
_E_G = math.sqrt(_E2_G)
#: crs -> (lat0 deg, lon0 deg, false easting, false northing)
LAEA_PARAMS: dict[str, tuple[float, float, float, float]] = {
    "EPSG:3035": (52.0, 10.0, 4_321_000.0, 3_210_000.0),  # ETRS89-LAEA
}


def _q_auth(sin_phi: float, e2: float = None, e: float = None) -> float:
    """Authalic q (Snyder eq. 3-12) at a scalar sin(phi); defaults to
    the GRS80 eccentricity."""
    ee2 = _E2_G if e2 is None else e2
    ee = _E_G if e is None else e
    return (1.0 - ee2) * (
        sin_phi / (1.0 - ee2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * ee))
        * math.log((1.0 - ee * sin_phi) / (1.0 + ee * sin_phi))
    )


def _laea_consts(crs: str) -> dict:
    """(q_p, beta1, R_q, D, ellipsoid, series) for the CRS center
    latitude, any ellipsoid."""
    params = LAEA_PARAMS[crs.upper()]
    lat0 = params[0]
    a, e2, e = _conic_ellipsoid(params, 4)
    q_p = _q_auth(1.0, e2, e)
    q1 = _q_auth(math.sin(math.radians(lat0)), e2, e)
    beta1 = math.asin(q1 / q_p)
    r_q = a * math.sqrt(q_p / 2.0)
    s0 = math.sin(math.radians(lat0))
    m1 = math.cos(math.radians(lat0)) / math.sqrt(1.0 - e2 * s0 * s0)
    d = a * m1 / (r_q * math.cos(beta1))
    return dict(q_p=q_p, beta1=beta1, r_q=r_q, d=d, e2=e2, e=e,
                series=_beta_series(e2))


def _lonlat_to_laea_fn(crs: str) -> Transform:
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    e2, e = k["e2"], k["e"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon - X.lit(lon0))
        s = X.sin(X.radians(lat))
        q = X.lit(1.0 - e2) * (
            s / (X.lit(1.0) - X.lit(e2) * s * s)
            - X.lit(1.0 / (2.0 * e))
            * X.log((X.lit(1.0) - X.lit(e) * s)
                    / (X.lit(1.0) + X.lit(e) * s))
        )
        beta = X.asin(X.least(X.greatest(q / X.lit(q_p), X.lit(-1.0)),
                              X.lit(1.0)))
        cb, sb = X.cos(beta), X.sin(beta)
        b = X.lit(r_q) * X.sqrt(
            X.lit(2.0) / (X.lit(1.0) + X.lit(sb1) * sb
                          + X.lit(cb1) * cb * X.cos(lam))
        )
        x = X.lit(fe) + b * X.lit(d) * cb * X.sin(lam)
        y = X.lit(fn) + (b / X.lit(d)) * (
            X.lit(cb1) * sb - X.lit(sb1) * cb * X.cos(lam)
        )
        return x, y

    return single(fwd)


def _laea_to_lonlat_fn(crs: str) -> Transform:
    lat0, lon0, fe, fn = LAEA_PARAMS[crs.upper()][:4]
    k = _laea_consts(crs)
    q_p, beta1, r_q, d = k["q_p"], k["beta1"], k["r_q"], k["d"]
    sb1, cb1 = math.sin(beta1), math.cos(beta1)

    def inv(x: E, y: E) -> tuple[E, E]:
        xd = (x - X.lit(fe)) / X.lit(d)
        yd = X.lit(d) * (y - X.lit(fn))
        rho = X.sqrt(xd * xd + yd * yd)
        ce = X.lit(2.0) * X.asin(
            X.least(rho / X.lit(2.0 * r_q), X.lit(1.0)))
        # rho == 0 -> projection center (guarded: sin(ce)/rho is 0/0)
        qv = X.lit(q_p) * (
            X.cos(ce) * X.lit(sb1)
            + X.when(rho == 0.0, X.lit(0.0))
            .otherwise(yd * X.sin(ce) * X.lit(cb1) / rho)
        )
        beta = X.asin(X.least(X.greatest(qv / X.lit(q_p), X.lit(-1.0)),
                              X.lit(1.0)))
        phi = _lat_series(beta, k["series"])
        lam = X.atan2(
            (x - X.lit(fe)) * X.sin(ce),
            X.lit(d) * rho * X.cos(ce) * X.lit(cb1)
            - X.lit(d) * yd * X.sin(ce) * X.lit(sb1),
        )
        lon = X.lit(lon0) + X.degrees(
            X.when(rho == 0.0, X.lit(0.0)).otherwise(lam))
        lat = X.degrees(
            X.when(rho == 0.0, X.lit(math.radians(lat0))).otherwise(phi))
        return lon, lat

    return single(inv)


# ---- Lambert conformal conic 2SP (EPSG:2154 / 3034 and kin) -----------
#
# National grids (France RGF93-LCC, ETRS89-LCC Europe) the reference
# reaches through pyproj.  Ellipsoidal LCC-2SP from Snyder 1987
# (public math: eqs. 14-15 m, 15-9 t, 15-1..15-11 forward/inverse, 3-5
# chi -> phi series).  One closed-form stage each way.

#: crs -> (lat1, lat2, lat0, lon0, false easting, false northing)
#: [6-tuple: GRS80] or + (a, rf) [8-tuple: any ellipsoid, round 8]
LCC_PARAMS: dict[str, tuple[float, float, float, float, float, float]] = {
    "EPSG:2154": (44.0, 49.0, 46.5, 3.0, 700_000.0, 6_600_000.0),
    "EPSG:3034": (35.0, 65.0, 52.0, 10.0, 4_000_000.0, 2_800_000.0),
}


def _conic_ellipsoid(params: tuple, base_len: int) -> tuple:
    """(a, e2, e) from an optionally ellipsoid-extended family tuple
    (round 8: LCC/AEA/LAEA accept any ellipsoid via two extra slots).
    The short form reproduces the module GRS80 constants bit-exact, so
    every pre-existing registration keeps its doubles unchanged."""
    if len(params) > base_len:
        a, rf = params[base_len], params[base_len + 1]
        f = 1.0 / rf
        e2 = f * (2.0 - f)
        return a, e2, math.sqrt(e2)
    return _R, _E2_G, _E_G


def _chi_series(e2: float) -> tuple:
    """Conformal chi -> geodetic phi series (Snyder eq. 3-5)."""
    return (
        e2 / 2.0 + 5.0 * e2 ** 2 / 24.0 + e2 ** 3 / 12.0
        + 13.0 * e2 ** 4 / 360.0,
        7.0 * e2 ** 2 / 48.0 + 29.0 * e2 ** 3 / 240.0
        + 811.0 * e2 ** 4 / 11520.0,
        7.0 * e2 ** 3 / 120.0 + 81.0 * e2 ** 4 / 1120.0,
        4279.0 * e2 ** 4 / 161280.0,
    )


def _beta_series(e2: float) -> tuple:
    """Authalic beta -> geodetic phi series (Snyder eq. 3-18)."""
    return (
        e2 / 3.0 + 31.0 * e2 ** 2 / 180.0 + 517.0 * e2 ** 3 / 5040.0,
        23.0 * e2 ** 2 / 360.0 + 251.0 * e2 ** 3 / 3780.0,
        761.0 * e2 ** 3 / 45360.0,
    )


def _lcc_m(phi: float, e2: float = None) -> float:
    s = math.sin(phi)
    ee = _E2_G if e2 is None else e2
    return math.cos(phi) / math.sqrt(1.0 - ee * s * s)


def _lcc_t(phi: float, e: float = None) -> float:
    s = math.sin(phi)
    ec = _E_G if e is None else e
    return math.tan(math.pi / 4.0 - phi / 2.0) * (
        (1.0 + ec * s) / (1.0 - ec * s)) ** (ec / 2.0)


def _lcc_consts(crs: str) -> tuple:
    """(n, a*Fc, rho0, lon0, fe, fn, e, chi_series) for the CRS
    (Snyder 15-3/15-2/15-1a, any ellipsoid)."""
    params = LCC_PARAMS[crs.upper()]
    lat1, lat2, lat0, lon0, fe, fn = params[:6]
    a, e2, e = _conic_ellipsoid(params, 6)
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    if lat1 == lat2:
        # coincident parallels: the secant cone degenerates to the
        # tangent cone, n -> sin(phi1) (the 1-SP form, EPSG 9801 —
        # the 0/0 limit of the 2-SP quotient below)
        n = math.sin(p1)
    else:
        n = (math.log(_lcc_m(p1, e2)) - math.log(_lcc_m(p2, e2))) / (
            math.log(_lcc_t(p1, e)) - math.log(_lcc_t(p2, e)))
    af = a * _lcc_m(p1, e2) / (n * _lcc_t(p1, e) ** n)
    rho0 = af * _lcc_t(p0, e) ** n
    return n, af, rho0, lon0, fe, fn, e, _chi_series(e2)


def _lonlat_to_lcc_fn(crs: str) -> Transform:
    n, af, rho0, lon0, fe, fn, e, _ = _lcc_consts(crs)

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        phi = X.radians(lat)
        s = X.lit(e) * X.sin(phi)
        t = X.tan(X.lit(math.pi / 4.0) - phi / 2) * X.pow(
            (X.lit(1.0) + s) / (X.lit(1.0) - s), X.lit(e / 2.0))
        rho = X.lit(af) * X.pow(t, X.lit(n))
        th = X.lit(n) * X.radians(lon - X.lit(lon0))
        return (X.lit(fe) + rho * X.sin(th),
                X.lit(fn) + X.lit(rho0) - rho * X.cos(th))

    return single(fwd)


def _lcc_to_lonlat_fn(crs: str) -> Transform:
    n, af, rho0, lon0, fe, fn, e, series = _lcc_consts(crs)

    def inv(x: E, y: E) -> tuple[E, E]:
        xd = x - X.lit(fe)
        yd = X.lit(rho0) - (y - X.lit(fn))
        # northern-cone registrations have n > 0: rho' carries n's
        # sign directly
        rho = X.sqrt(xd * xd + yd * yd)
        t = X.pow(rho / X.lit(af), X.lit(1.0 / n))
        chi = X.lit(math.pi / 2.0) - 2 * X.atan(t)
        phi = _lat_series(chi, series)
        lam = X.atan2(xd, yd) / X.lit(n)
        return X.lit(lon0) + X.degrees(lam), X.degrees(phi)

    return single(inv)


# ---- Albers equal-area conic (EPSG:5070 CONUS) ------------------------
#
# The US analysis grid (NAD83 / Conus Albers) — ellipsoidal Albers from
# Snyder 1987 (eqs. 14-3..14-11 with the authalic beta -> phi 3-18
# series, shared with LAEA above).  GRS80 ellipsoid.

#: crs -> (lat1, lat2, lat0, lon0, false easting, false northing)
AEA_PARAMS: dict[str, tuple[float, float, float, float, float, float]] = {
    "EPSG:5070": (29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
}


def _aea_consts(crs: str) -> dict:
    """Snyder 14-14/14-13/14-12a constants, any ellipsoid."""
    params = AEA_PARAMS[crs.upper()]
    lat1, lat2, lat0, lon0, fe, fn = params[:6]
    a, e2, e = _conic_ellipsoid(params, 6)
    p1, p2, p0 = (math.radians(v) for v in (lat1, lat2, lat0))
    m1, m2 = _lcc_m(p1, e2), _lcc_m(p2, e2)
    q1 = _q_auth(math.sin(p1), e2, e)
    q2 = _q_auth(math.sin(p2), e2, e)
    q0 = _q_auth(math.sin(p0), e2, e)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    return dict(n=n, c=c, rho0=a * math.sqrt(c - n * q0) / n,
                lon0=lon0, fe=fe, fn=fn, a=a, e2=e2, e=e,
                q_p=_q_auth(1.0, e2, e), series=_beta_series(e2))


def _lonlat_to_aea_fn(crs: str) -> Transform:
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])
    e2, e = k["e2"], k["e"]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        s = X.sin(X.radians(lat))
        q = X.lit(1.0 - e2) * (
            s / (X.lit(1.0) - X.lit(e2) * s * s)
            - X.lit(1.0 / (2.0 * e))
            * X.log((X.lit(1.0) - X.lit(e) * s)
                    / (X.lit(1.0) + X.lit(e) * s)))
        rho = X.lit(k["a"]) * X.sqrt(X.lit(c) - X.lit(n) * q) / X.lit(n)
        th = X.lit(n) * X.radians(lon - X.lit(lon0))
        return (X.lit(fe) + rho * X.sin(th),
                X.lit(fn) + X.lit(rho0) - rho * X.cos(th))

    return single(fwd)


def _aea_to_lonlat_fn(crs: str) -> Transform:
    k = _aea_consts(crs)
    n, c, rho0, lon0, fe, fn = (k["n"], k["c"], k["rho0"], k["lon0"],
                                k["fe"], k["fn"])

    def inv(x: E, y: E) -> tuple[E, E]:
        xd = x - X.lit(fe)
        yd = X.lit(rho0) - (y - X.lit(fn))
        rho = X.sqrt(xd * xd + yd * yd)
        q = (X.lit(c) - rho * rho
             * X.lit(n * n / (k["a"] * k["a"]))) / X.lit(n)
        beta = X.asin(X.least(X.greatest(q / X.lit(k["q_p"]),
                                         X.lit(-1.0)),
                              X.lit(1.0)))
        phi = _lat_series(beta, k["series"])
        lam = X.atan2(xd, yd) / X.lit(n)
        return X.lit(lon0) + X.degrees(lam), X.degrees(phi)

    return single(inv)


# ---- Mollweide (World_Mollweide, ESRI:54009) --------------------------
#
# The equal-area pseudocylindrical world CRS (land-cover and climate
# products; the reference reaches it through pyproj).  Spherical
# Mollweide on the WGS84 semimajor (proj's +proj=moll +ellps=WGS84
# formulation, Snyder 1987 eq. 31-1..31-8): solve
# ``2t + sin 2t = pi sin(phi)`` for the auxiliary angle t, then
# ``x = (2 sqrt(2) / pi) R lam cos t``, ``y = sqrt(2) R sin t``.

MOLL_PARAMS: dict[str, float] = {
    "ESRI:54009": _R,
}
_SQRT2 = math.sqrt(2.0)


_MOLL_ITERS = 8


def _moll_step(t: E, sinphi: E) -> E:
    """One Newton step of ``2t + sin 2t = pi sin(phi)`` (Mollweide's
    auxiliary angle, also Goode's polar lobes); at the poles the
    derivative vanishes and t is already phi."""
    num = X.lit(2.0) * t + X.sin(X.lit(2.0) * t) \
        - X.lit(math.pi) * sinphi
    den = X.lit(2.0) + X.lit(2.0) * X.cos(X.lit(2.0) * t)
    return X.when(X.abs(den) < 1e-12, t).otherwise(t - num / den)


def _lonlat_to_moll_fn(crs: str) -> Transform:
    """lon/lat -> Mollweide; the Newton solve for t is staged, one
    column per iteration, so it does not nest an exponentially growing
    expression."""
    r = MOLL_PARAMS[crs.upper()]
    stages = [{"__mo_sph": lambda env: X.sin(X.radians(env["__in_y"])),
               "__mo_t": lambda env: X.radians(env["__in_y"])}]
    stages += [{"__mo_t": lambda env: _moll_step(
        env["__mo_t"], env["__mo_sph"])}] * _MOLL_ITERS
    stages.append({
        "__out_x": lambda env: X.lit(2.0 * _SQRT2 / math.pi * r)
        * X.radians(env["__in_x"]) * X.cos(env["__mo_t"]),
        "__out_y": lambda env: X.lit(_SQRT2 * r) * X.sin(env["__mo_t"]),
    })
    return staged(stages)


def _moll_to_lonlat_fn(crs: str) -> Transform:
    r = MOLL_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        t = X.asin(y / X.lit(_SQRT2 * r))
        phi = X.asin(
            (X.lit(2.0) * t + X.sin(X.lit(2.0) * t)) / X.lit(math.pi))
        lon = X.degrees(
            x * X.lit(math.pi) / (X.lit(2.0 * _SQRT2 * r) * X.cos(t)))
        return lon, X.degrees(phi)

    return single(inv)


# ---- Hammer (-Aitoff) (+proj=hammer) -----------------------------------
#
# The equal-area modified-azimuthal world projection (Hammer 1892;
# Snyder ch. on modified azimuthals): the Lambert azimuthal equatorial
# aspect at halved longitudes, stretched 2x in x — equal-area where
# Aitoff is not, with the same elliptical outline.  Closed form BOTH
# directions (the published inverse via z = sqrt(1 - (x/4)^2 -
# (y/2)^2) on the unit sphere).  No authority code in common
# registries — canonical key PROJ:HAMMER (the natearth convention).

#: crs -> sphere radius
HAMMER_PARAMS: dict[str, float] = {
    "PROJ:HAMMER": 6_378_137.0,
}


def _lonlat_to_hammer_fn(crs: str) -> Transform:
    r = HAMMER_PARAMS[crs.upper()]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam2 = X.radians(lon) / X.lit(2.0)
        phi = X.radians(lat)
        cphi = X.cos(phi)
        den = X.sqrt(X.lit(1.0) + cphi * X.cos(lam2))
        x = X.lit(2.0 * _SQRT2 * r) * cphi * X.sin(lam2) / den
        y = X.lit(_SQRT2 * r) * X.sin(phi) / den
        return x, y

    return single(fwd)


def _hammer_to_lonlat_fn(crs: str) -> Transform:
    r = HAMMER_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        xn = x / X.lit(r)
        yn = y / X.lit(r)
        z = X.sqrt(X.lit(1.0) - (xn / 4.0) * (xn / 4.0)
                   - (yn / 2.0) * (yn / 2.0))
        lon = X.degrees(X.lit(2.0) * X.atan2(
            z * xn, X.lit(2.0) * (X.lit(2.0) * z * z - X.lit(1.0))))
        lat = X.degrees(X.asin(z * yn))
        return lon, lat

    return single(inv)


# ---- Goode homolosine (interrupted; +proj=igh) --------------------------
#
# THE interrupted world projection (Goode 1925; USGS GCTP `goode.c`,
# PROJ `+proj=igh`): equal-area, sinusoidal between the 40d44'11.8"
# parallels and six shifted Mollweide lobes above/below, interrupted
# along four meridians (north split at 40W; south splits at 100W,
# 20W, 80E) so every lobe keeps its own central meridian.  The
# round-8 verdict's designated "interrupted projections" gap — the
# reference reaches it only through pyproj
# (xcube/core/gridmapping/transform.py).  Spherical, like every
# Goode implementation; the Mollweide y is shifted toward the equator
# by the EXACT continuity offset sqrt(2) sin(theta_b) - phi_b
# (= 0.052803527..., the USGS GCTP constant solved at import below)
# so the two halves meet exactly at the boundary parallel.  The
# canonical WGS84-semimajor member is PROJ:IGH (ESRI:54052 stays on
# the pyproj fallback: its datum handling is implementation-defined).

#: crs -> sphere radius
IGH_PARAMS: dict[str, float] = {
    "PROJ:IGH": 6_378_137.0,
}

#: the Goode boundary parallel 40d 44' 11.8"
_IGH_PHIB = math.radians(40.0 + 44.0 / 60.0 + 11.8 / 3600.0)


def _solve_igh_dy() -> float:
    """Solve the Mollweide auxiliary angle at the boundary parallel
    and return the continuity offset sqrt(2) sin(theta_b) - phi_b
    (GCTP's 0.0528035274542, derived rather than quoted)."""
    k = math.pi * math.sin(_IGH_PHIB)
    t = _IGH_PHIB
    for _ in range(50):
        t -= (2.0 * t + math.sin(2.0 * t) - k) \
            / (2.0 + 2.0 * math.cos(2.0 * t))
    return _SQRT2 * math.sin(t) - _IGH_PHIB


_IGH_DY = _solve_igh_dy()

#: interruption meridians / lobe central meridians (radians)
_IGH_D20, _IGH_D40, _IGH_D60 = (math.radians(d) for d in (20, 40, 60))
_IGH_D80, _IGH_D100 = math.radians(80.0), math.radians(100.0)
_IGH_D30, _IGH_D140, _IGH_D160 = (math.radians(d) for d in (30, 140, 160))


def _igh_lamc(lam: E, phi_or_y: E) -> E:
    """Per-lobe central meridian (radians) from the signed latitude
    proxy (phi forward / yn inverse) and the longitude proxy (lam
    forward / xn inverse) — the GCTP/PROJ zone table: north splits at
    40W into lobes centered 100W / 30E; south splits at 100W / 20W /
    80E into lobes centered 160W / 60W / 20E / 140E.  Both directions
    use the SAME selector (the inverse classifies by projected x
    against the interruption meridians, exact for in-lobe points and
    deterministic for gap points)."""
    north = X.when(lam <= X.lit(-_IGH_D40), X.lit(-_IGH_D100)) \
        .otherwise(X.lit(_IGH_D30))
    south = X.when(lam <= X.lit(-_IGH_D100), X.lit(-_IGH_D160)) \
        .when(lam <= X.lit(-_IGH_D20), X.lit(-_IGH_D60)) \
        .when(lam <= X.lit(_IGH_D80), X.lit(_IGH_D20)) \
        .otherwise(X.lit(_IGH_D140))
    return X.when(phi_or_y >= X.lit(0.0), north).otherwise(south)


def _lonlat_to_igh_fn(crs: str) -> Transform:
    """lon/lat -> interrupted Goode homolosine; the Mollweide Newton
    solve for the auxiliary angle is staged, Mollweide-style."""
    r = IGH_PARAMS[crs.upper()]

    def out(env):
        lam, phi = env["__ig_lam"], env["__ig_phi"]
        lamc, t = env["__ig_lamc"], env["__ig_t"]
        moll = (phi >= X.lit(_IGH_PHIB)) | (phi < X.lit(-_IGH_PHIB))
        x_sinu = lamc + (lam - lamc) * X.cos(phi)
        y_sinu = phi
        x_moll = lamc + X.lit(2.0 * _SQRT2 / math.pi) \
            * (lam - lamc) * X.cos(t)
        y_moll = X.lit(_SQRT2) * X.sin(t) \
            - X.when(phi >= X.lit(0.0), X.lit(_IGH_DY)) \
            .otherwise(X.lit(-_IGH_DY))
        return (X.lit(r) * X.when(moll, x_moll).otherwise(x_sinu),
                X.lit(r) * X.when(moll, y_moll).otherwise(y_sinu))

    stages = [
        {"__ig_lam": lambda env: X.radians(env["__in_x"]),
         "__ig_phi": lambda env: X.radians(env["__in_y"])},
        {"__ig_lamc": lambda env: _igh_lamc(env["__ig_lam"],
                                            env["__ig_phi"]),
         "__ig_sph": lambda env: X.sin(env["__ig_phi"]),
         "__ig_t": lambda env: env["__ig_phi"]},
    ]
    stages += [{"__ig_t": lambda env: _moll_step(
        env["__ig_t"], env["__ig_sph"])}] * _MOLL_ITERS
    stages.append({"__out_x": lambda env: out(env)[0],
                   "__out_y": lambda env: out(env)[1]})
    return staged(stages)


def _igh_to_lonlat_fn(crs: str) -> Transform:
    """Closed-form inverse: classify moll-vs-sinu by |y| against the
    boundary parallel and the lobe by x against the interruption
    meridians (exactly PROJ's inverse zone test), then invert the
    zone's pseudocylindrical — Mollweide's inverse is closed form, so
    the whole inverse is a single stage."""
    r = IGH_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        xn = x / X.lit(r)
        yn = y / X.lit(r)
        lamc = _igh_lamc(xn, yn)
        moll = (yn >= X.lit(_IGH_PHIB)) | (yn < X.lit(-_IGH_PHIB))
        t = X.asin((X.abs(yn) + X.lit(_IGH_DY)) / X.lit(_SQRT2))
        sgn = X.when(yn < X.lit(0.0), X.lit(-1.0)).otherwise(X.lit(1.0))
        phi_m = sgn * X.asin(
            (X.lit(2.0) * t + X.sin(X.lit(2.0) * t)) / X.lit(math.pi))
        lam_m = lamc + (xn - lamc) * X.lit(math.pi) \
            / (X.lit(2.0 * _SQRT2) * X.cos(t))
        lam_s = lamc + (xn - lamc) / X.cos(yn)
        # out-of-domain guard: |y|/R beyond sqrt(2)-dy puts the asin
        # argument past 1 and would silently NaN — corner pixels of a
        # rectangular target bbox land here.  Yield explicit NULL so
        # both engines fail deterministically (advice r9).
        valid = X.abs(yn) <= X.lit(_SQRT2 - _IGH_DY)
        lon = X.when(valid,
                     X.degrees(X.when(moll, lam_m).otherwise(lam_s)))
        lat = X.when(valid,
                     X.degrees(X.when(moll, phi_m).otherwise(yn)))
        return lon, lat

    return single(inv)


# ---- Winkel Tripel (+proj=wintri; ESRI:54042) ---------------------------
#
# The arithmetic-mean compromise world projection (Winkel 1921): the
# average of the equirectangular projection at standard parallel phi1
# and the Aitoff projection (Snyder, "Flattening the Earth", ch. 61;
# PROJ +proj=wintri).  PROJ's default phi1 is Winkel's own choice
# cos(phi1) = 2/pi; ESRI:54042 (World_Winkel_Tripel_NGS) uses it on
# the WGS84 sphere.  Forward is closed form:
#
#   alpha = acos(cos phi * cos(lam/2)),  T = alpha / sin(alpha)
#   x = R/2 (lam cos phi1 + 2 cos phi sin(lam/2) T)
#   y = R/2 (phi + sin phi T)
#
# NO closed-form inverse exists — the inverse is a fixed-count 2-D
# Newton solve of the forward pair with the ANALYTIC Jacobian, the
# published approach for exactly this projection (Ipbuker & Bildirici,
# "A general algorithm for the inverse transformation of map
# projections using jacobian matrices", 2002).  The reference reaches
# wintri only through pyproj (core/gridmapping/transform.py).

#: crs -> (sphere radius, cos phi1)
WINTRI_PARAMS: dict[str, tuple[float, float]] = {
    "ESRI:54042": (6_378_137.0, 2.0 / math.pi),
}
_WINTRI_ITERS = 6
_WT_EPS = 1e-8


def _wt_T(alpha: E, sa: E) -> E:
    """alpha / sin(alpha) with its alpha -> 0 series (1 + a^2/6)."""
    return X.when(alpha < X.lit(_WT_EPS),
                  X.lit(1.0) + alpha * alpha / X.lit(6.0)) \
        .otherwise(alpha / sa)


def _lonlat_to_wintri_fn(crs: str) -> Transform:
    r, cp1 = WINTRI_PARAMS[crs.upper()]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        lam = X.radians(lon)
        phi = X.radians(lat)
        lam2 = lam / X.lit(2.0)
        cp, sp = X.cos(phi), X.sin(phi)
        q = X.least(cp * X.cos(lam2), X.lit(1.0))
        alpha = X.acos(q)
        t = _wt_T(alpha, X.sin(alpha))
        x = X.lit(0.5 * r) * (lam * X.lit(cp1)
                              + X.lit(2.0) * cp * X.sin(lam2) * t)
        y = X.lit(0.5 * r) * (phi + sp * t)
        return x, y

    return single(fwd)


def _wintri_newton_stage(cp1: float, it: int):
    """One Newton iteration: stage dict mapping the updated
    (__wl, __wp) from the previous env.  f = forward(lam, phi) - in,
    J analytic; delta = J^-1 f."""

    def step(env):
        lam, phi = env["__wl"], env["__wp"]
        xn, yn = env["__wxn"], env["__wyn"]
        lam2 = lam / X.lit(2.0)
        sl2, cl2 = X.sin(lam2), X.cos(lam2)
        sp, cp = X.sin(phi), X.cos(phi)
        q = X.least(cp * cl2, X.lit(1.0))
        alpha = X.acos(q)
        sa = X.sin(alpha)
        t = _wt_T(alpha, sa)
        # dT/dalpha, with its alpha -> 0 limit alpha/3
        dt = X.when(alpha < X.lit(_WT_EPS), alpha / X.lit(3.0)) \
            .otherwise((sa - alpha * X.cos(alpha)) / (sa * sa))
        # dalpha/dlam, dalpha/dphi (0 at the alpha=0 singularity)
        dal = X.when(sa < X.lit(_WT_EPS), X.lit(0.0)) \
            .otherwise(cp * sl2 / (X.lit(2.0) * sa))
        dap = X.when(sa < X.lit(_WT_EPS), X.lit(0.0)) \
            .otherwise(sp * cl2 / sa)
        f1 = X.lit(0.5) * (lam * X.lit(cp1)
                           + X.lit(2.0) * cp * sl2 * t) - xn
        f2 = X.lit(0.5) * (phi + sp * t) - yn
        dxl = X.lit(0.5) * (X.lit(cp1) + X.lit(2.0) * cp
                            * (X.lit(0.5) * cl2 * t + sl2 * dt * dal))
        dxp = X.lit(0.5) * (X.lit(-2.0) * sp * sl2 * t
                            + X.lit(2.0) * cp * sl2 * dt * dap)
        dyl = X.lit(0.5) * (sp * dt * dal)
        dyp = X.lit(0.5) * (X.lit(1.0) + cp * t + sp * dt * dap)
        det = dxl * dyp - dxp * dyl
        new_lam = lam - (dyp * f1 - dxp * f2) / det
        new_phi = phi - (dxl * f2 - dyl * f1) / det
        return (
            X.least(X.greatest(new_lam, X.lit(-math.pi)), X.lit(math.pi)),
            X.least(X.greatest(new_phi, X.lit(-math.pi / 2)),
                    X.lit(math.pi / 2)),
        )

    def c_lam(env, _s=step):
        return _s(env)[0]

    def c_phi(env, _s=step):
        return _s(env)[1]

    # one combined stage would re-evaluate step() twice; emit the pair
    # into a struct-free two-column stage instead (each fn builds its
    # own tree — the stage materializes both as columns, so the
    # NEXT iteration references them without re-expansion)
    return {"__wl": c_lam, "__wp": c_phi}


def _wintri_to_lonlat_fn(crs: str) -> Transform:
    r, cp1 = WINTRI_PARAMS[crs.upper()]

    def c_xn(env):
        return env["__in_x"] / X.lit(r)

    def c_yn(env):
        return env["__in_y"] / X.lit(r)

    def c_l0(env):
        # exact on the equator: x(lam, 0) = R/2 lam (cos phi1 + 1)
        l0 = X.lit(2.0) * env["__wxn"] / X.lit(1.0 + cp1)
        return X.least(X.greatest(l0, X.lit(-math.pi)), X.lit(math.pi))

    def c_p0(env):
        # exact at the poles and to O(phi^3) near the equator
        return X.least(X.greatest(env["__wyn"], X.lit(-math.pi / 2)),
                       X.lit(math.pi / 2))

    def c_lon(env):
        return X.degrees(env["__wl"])

    def c_lat(env):
        return X.degrees(env["__wp"])

    stages = [
        {"__wxn": c_xn, "__wyn": c_yn},
        {"__wl": c_l0, "__wp": c_p0},
    ]
    for it in range(_WINTRI_ITERS):
        stages.append(_wintri_newton_stage(cp1, it))
    stages.append({"__out_x": c_lon, "__out_y": c_lat})
    return staged(stages)


# ---- Natural Earth (+proj=natearth) -----------------------------------
#
# The Savric/Jenny/Patterson compromise world projection (the
# polynomial form, "A polynomial equation for the Natural Earth
# projection", Cartography and GIS 38(4), 2011; PROJ +proj=natearth):
#
#   x = R lam (A0 + A1 p2 + A2 p4 + A3 p10 + A4 p12)
#   y = R phi (B0 + B1 p2 + B2 p6 + B3 p8  + B4 p10)    (p2 = phi^2)
#
# Spherical only (no EPSG/authority code exists; the canonical member
# runs on the WGS84 semimajor under the stable key PROJ:NATEARTH).
# Inverse: fixed-count Newton on the odd y polynomial (derivative
# coefficients 1/3/7/9/11 x B), then lam from the x polynomial.
# No external control points exist for this CRS — the numerics are
# pinned by the vendored coefficients themselves, a numpy twin test,
# and the roundtrip property.

_NE_A = (0.8707, -0.131979, -0.013791, 0.003971, -0.001529)
_NE_B = (1.007226, 0.015085, -0.044475, 0.028874, -0.005916)
_NE_C = (_NE_B[0], 3.0 * _NE_B[1], 7.0 * _NE_B[2],
         9.0 * _NE_B[3], 11.0 * _NE_B[4])

NATEARTH_PARAMS: dict[str, float] = {
    "PROJ:NATEARTH": _R,
}

_NE_ITERS = 6


def _ne_xfac(p2):
    """x polynomial factor, nested as
    A0 + p2*(A1 + p2*(A2 + p2^3*(A3 + p2*A4)))."""
    a0, a1, a2, a3, a4 = (X.lit(v) for v in _NE_A)
    return a0 + p2 * (a1 + p2 * (a2 + p2 * p2 * p2
                                 * (a3 + p2 * a4)))


def _ne_yfac(p2):
    b0, b1, b2, b3, b4 = (X.lit(v) for v in _NE_B)
    return b0 + p2 * (b1 + p2 * p2 * (b2 + b3 * p2 + b4 * p2 * p2))


def _ne_dy(p2):
    c0, c1, c2, c3, c4 = (X.lit(v) for v in _NE_C)
    return c0 + p2 * (c1 + p2 * p2 * (c2 + c3 * p2 + c4 * p2 * p2))


def _lonlat_to_natearth_fn(crs: str) -> Transform:
    r = NATEARTH_PARAMS[crs.upper()]

    def s_phi(env):
        return X.radians(env["__in_y"])

    def out(env):
        phi = env["__phi"]
        p2 = phi * phi
        x = X.lit(r) * X.radians(env["__in_x"]) * _ne_xfac(p2)
        y = X.lit(r) * phi * _ne_yfac(p2)
        return x, y

    return staged([
        {"__phi": s_phi},
        {"__out_x": lambda env: out(env)[0],
         "__out_y": lambda env: out(env)[1]},
    ])


def _natearth_to_lonlat_fn(crs: str) -> Transform:
    r = NATEARTH_PARAMS[crs.upper()]

    def s_yn(env):
        return env["__in_y"] / X.lit(r)

    def s_phi0(env):
        return env["__yn"]  # y/R is within ~7% of phi everywhere

    def step(env):
        phi = env["__phi"]
        p2 = phi * phi
        return phi - (phi * _ne_yfac(p2) - env["__yn"]) / _ne_dy(p2)

    def out_x(env):
        phi = env["__phi"]
        p2 = phi * phi
        return X.degrees(
            env["__in_x"] / (X.lit(r) * _ne_xfac(p2)))

    def out_y(env):
        return X.degrees(env["__phi"])

    stages: list[dict] = [{"__yn": s_yn}, {"__phi": s_phi0}]
    stages += [{"__phi": step} for _ in range(_NE_ITERS)]
    stages += [{"__out_x": out_x, "__out_y": out_y}]
    return staged(stages)


# ---- Eckert IV (World_Eckert_IV, ESRI:54012) --------------------------
#
# Equal-area pseudocylindrical world CRS (Snyder, An Album of Map
# Projections p. 60 / PROJ eck4): solve ``t + sin t cos t + 2 sin t
# = (2 + pi/2) sin(phi)`` for the auxiliary angle, then
# ``x = Cx R lam (1 + cos t)``, ``y = Cy R sin t``.  Spherical on
# the WGS84 semimajor (proj +proj=eck4 +ellps=WGS84 convention, as
# with Mollweide above).  The pole line is half the equator length
# and the map is equal-area (both pinned by tests).

ECK4_PARAMS: dict[str, float] = {
    "ESRI:54012": _R,
}
_ECK4_CX = 2.0 / math.sqrt(math.pi * (4.0 + math.pi))
_ECK4_CY = 2.0 * math.sqrt(math.pi / (4.0 + math.pi))
_ECK4_CP = 2.0 + math.pi / 2.0


_ECK4_ITERS = 10


def _lonlat_to_eck4_fn(crs: str) -> Transform:
    """lon/lat -> Eckert IV; the Newton solve for t is staged,
    Mollweide-style."""
    r = ECK4_PARAMS[crs.upper()]

    def step(env):
        t, sinphi = env["__e4_t"], env["__e4_sph"]
        num = t + X.sin(t) * X.cos(t) + X.lit(2.0) * X.sin(t) \
            - X.lit(_ECK4_CP) * sinphi
        den = X.lit(2.0) * X.cos(t) * (X.lit(1.0) + X.cos(t))
        return X.when(X.abs(den) < 1e-12, t).otherwise(t - num / den)

    stages = [{"__e4_sph": lambda env: X.sin(X.radians(env["__in_y"])),
               "__e4_t": lambda env: X.radians(env["__in_y"])}]
    stages += [{"__e4_t": step}] * _ECK4_ITERS
    stages.append({
        "__out_x": lambda env: X.lit(_ECK4_CX * r)
        * X.radians(env["__in_x"]) * (X.lit(1.0) + X.cos(env["__e4_t"])),
        "__out_y": lambda env: X.lit(_ECK4_CY * r) * X.sin(env["__e4_t"]),
    })
    return staged(stages)


def _eck4_to_lonlat_fn(crs: str) -> Transform:
    r = ECK4_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        t = X.asin(y / X.lit(_ECK4_CY * r))
        phi = X.asin(
            (t + X.sin(t) * X.cos(t) + X.lit(2.0) * X.sin(t))
            / X.lit(_ECK4_CP))
        lon = X.degrees(
            x / (X.lit(_ECK4_CX * r) * (X.lit(1.0) + X.cos(t))))
        return lon, X.degrees(phi)

    return single(inv)


# ---- Miller cylindrical (World_Miller_Cylindrical, ESRI:54003) --------
#
# Snyder 1987 ch. 11 (eqs. 11-1..11-7): ``x = R lam``,
# ``y = 1.25 R ln tan(pi/4 + 0.4 phi)`` — a Mercator compressed by
# 0.8 in latitude, so y_mill(phi) = 1.25 * y_merc(0.8 phi), an exact
# identity tests pin against the web-mercator family.  Closed form
# both directions; spherical on the WGS84 semimajor.

MILL_PARAMS: dict[str, float] = {
    "ESRI:54003": _R,
}


def _lonlat_to_mill_fn(crs: str) -> Transform:
    r = MILL_PARAMS[crs.upper()]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        x = X.lit(r) * X.radians(lon)
        y = X.lit(1.25 * r) * X.log(
            X.tan(X.lit(math.pi / 4.0)
                  + X.lit(0.4) * X.radians(lat)))
        return x, y

    return single(fwd)


def _mill_to_lonlat_fn(crs: str) -> Transform:
    r = MILL_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        lat = X.degrees(X.lit(2.5) * (
            X.atan(X.exp(X.lit(0.8) * y / X.lit(r)))
            - X.lit(math.pi / 4.0)))
        lon = X.degrees(x / X.lit(r))
        return lon, lat

    return single(inv)


# ---- Van der Grinten I (World_Van_der_Grinten_I, ESRI:54029) ----------
#
# The world-in-a-circle atlas projection, Snyder 1987 ch. 33:
# forward eqs. 33-1..33-13 (circular-arc construction), inverse
# 33-14..33-23 (the trigonometric cubic root).  Closed form both
# directions; spherical on the WGS84 semimajor.  The equator maps
# linearly (x = R lam) and the world boundary is the circle of
# radius pi R (both pinned by tests).

VANDG_PARAMS: dict[str, float] = {
    "ESRI:54029": _R,
}


def _lonlat_to_vandg_fn(crs: str) -> Transform:
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r

    stages: list[dict] = [
        {"__lam": lambda env: X.radians(env["__in_x"]),
         "__phi": lambda env: X.radians(env["__in_y"])},
        # theta = asin|2 phi / pi| (33-6); A (33-2); sign carriers
        {"__th": lambda env: X.asin(
            X.abs(X.lit(2.0) * env["__phi"] / X.lit(math.pi))),
         "__A": lambda env: X.lit(0.5) * X.abs(
             X.lit(math.pi) / env["__lam"]
             - env["__lam"] / X.lit(math.pi)),
         "__sx": lambda env: X.signum(env["__lam"]),
         "__sy": lambda env: X.signum(env["__phi"])},
        # G (33-3), P (33-4) — guarded at phi = 0 where the general
        # form degenerates (the equator maps linearly, 33-9)
        {"__G": lambda env: X.cos(env["__th"]) / (
            X.sin(env["__th"]) + X.cos(env["__th"]) - X.lit(1.0)),
         },
        {"__P": lambda env: env["__G"] * (
            X.lit(2.0) / X.sin(env["__th"]) - X.lit(1.0))},
        {"__Q": lambda env: env["__A"] * env["__A"] + env["__G"],
         "__P2": lambda env: env["__P"] * env["__P"],
         "__A2": lambda env: env["__A"] * env["__A"]},
        # x (33-7), y (33-8) with the equator / central-meridian /
        # pole special cases (33-9..33-13)
        {"__out_x": lambda env: X.when(
            X.abs(env["__phi"]) < X.lit(1e-12),
            X.lit(r) * env["__lam"]
        ).when(
            X.abs(env["__lam"]) < X.lit(1e-12), X.lit(0.0)
        ).otherwise(
            env["__sx"] * X.lit(pr) * (
                env["__A"] * (env["__G"] - env["__P2"]) + X.sqrt(
                    env["__A2"]
                    * (env["__G"] - env["__P2"])
                    * (env["__G"] - env["__P2"])
                    - (env["__P2"] + env["__A2"])
                    * (env["__G"] * env["__G"] - env["__P2"]))
            ) / (env["__P2"] + env["__A2"])),
         "__out_y": lambda env: X.when(
            X.abs(env["__phi"]) < X.lit(1e-12), X.lit(0.0)
         ).when(
            X.abs(env["__lam"]) < X.lit(1e-12),
            env["__sy"] * X.lit(pr)
            * X.tan(env["__th"] / X.lit(2.0))
         ).otherwise(
            env["__sy"] * X.lit(pr) * (
                env["__P"] * env["__Q"] - env["__A"] * X.sqrt(
                    (env["__A2"] + X.lit(1.0))
                    * (env["__P2"] + env["__A2"])
                    - env["__Q"] * env["__Q"])
            ) / (env["__P2"] + env["__A2"]))},
    ]
    return staged(stages)


def _vandg_to_lonlat_fn(crs: str) -> Transform:
    r = VANDG_PARAMS[crs.upper()]
    pr = math.pi * r

    stages: list[dict] = [
        {"__X": lambda env: env["__in_x"] / X.lit(pr),
         "__Y": lambda env: env["__in_y"] / X.lit(pr)},
        {"__X2": lambda env: env["__X"] * env["__X"],
         "__Y2": lambda env: env["__Y"] * env["__Y"]},
        # c1..c3 (33-16..33-18)
        {"__c1": lambda env: X.lit(-1.0) * X.abs(env["__Y"]) * (
            X.lit(1.0) + env["__X2"] + env["__Y2"])},
        {"__c2": lambda env: env["__c1"] - X.lit(2.0) * env["__Y2"]
            + env["__X2"]},
        {"__c3": lambda env: X.lit(-2.0) * env["__c1"] + X.lit(1.0)
            + X.lit(2.0) * env["__Y2"]
            + (env["__X2"] + env["__Y2"])
            * (env["__X2"] + env["__Y2"])},
        # d (33-19), a1 (33-20), m1 (33-21), theta1 (33-22)
        {"__d": lambda env: env["__Y2"] / env["__c3"] + (
            X.lit(2.0) * env["__c2"] * env["__c2"] * env["__c2"]
            / (env["__c3"] * env["__c3"] * env["__c3"])
            - X.lit(9.0) * env["__c1"] * env["__c2"]
            / (env["__c3"] * env["__c3"])) / X.lit(27.0),
         "__a1": lambda env: (env["__c1"] - env["__c2"] * env["__c2"]
                              / (X.lit(3.0) * env["__c3"]))
            / env["__c3"]},
        {"__m1": lambda env: X.lit(2.0) * X.sqrt(
            X.lit(-1.0) * env["__a1"] / X.lit(3.0))},
        {"__t1": lambda env: X.acos(
            X.lit(3.0) * env["__d"]
            / (env["__a1"] * env["__m1"])) / X.lit(3.0)},
        # phi (33-23) guarded at Y = 0; lam (33-15) guarded at X = 0
        {"__out_y": lambda env: X.when(
            X.abs(env["__Y"]) < X.lit(1e-12), X.lit(0.0)
        ).otherwise(X.degrees(
            X.signum(env["__Y"]) * X.lit(math.pi) * (
                X.lit(-1.0) * env["__m1"] * X.cos(
                    env["__t1"] + X.lit(math.pi / 3.0))
                - env["__c2"] / (X.lit(3.0) * env["__c3"])))),
         "__out_x": lambda env: X.when(
            X.abs(env["__X"]) < X.lit(1e-12), X.lit(0.0)
         ).otherwise(X.degrees(
            X.lit(math.pi) * (
                env["__X2"] + env["__Y2"] - X.lit(1.0) + X.sqrt(
                    X.lit(1.0)
                    + X.lit(2.0) * (env["__X2"] - env["__Y2"])
                    + (env["__X2"] + env["__Y2"])
                    * (env["__X2"] + env["__Y2"])))
            / (X.lit(2.0) * env["__X"])))},
    ]
    return staged(stages)


# ---- sinusoidal (MODIS grid, ESRI:54008) ------------------------------
#
# The MODIS land-product tiling CRS: spherical sinusoidal on the
# authalic radius (x = R lam cos(phi), y = R phi).

#: crs aliases -> sphere radius (MODIS SR-ORG:6974 uses 6371007.181)
SINU_PARAMS: dict[str, float] = {
    "ESRI:54008": 6_371_007.181,
    "SR-ORG:6974": 6_371_007.181,
}


def _lonlat_to_sinu_fn(crs: str) -> Transform:
    r = SINU_PARAMS[crs.upper()]

    def fwd(lon: E, lat: E) -> tuple[E, E]:
        return (X.lit(r) * X.radians(lon) * X.cos(X.radians(lat)),
                X.lit(r) * X.radians(lat))

    return single(fwd)


def _sinu_to_lonlat_fn(crs: str) -> Transform:
    r = SINU_PARAMS[crs.upper()]

    def inv(x: E, y: E) -> tuple[E, E]:
        phi = y / X.lit(r)
        return X.degrees(x / (X.lit(r) * X.cos(phi))), X.degrees(phi)

    return single(inv)


# ---- Robinson (+proj=robin; ESRI:54030) ---------------------------------
#
# The classic compromise world projection (Robinson 1974; Snyder
# "Flattening the Earth" ch. on pseudocylindricals): defined by a
# TABLE, not a formula — published (X, Y) scale factors every 5 deg of
# latitude, interpolated smoothly.  x = 0.8487 R X(|lat|) lam,
# y = 1.3523 R Y(|lat|) sign(lat).  This implementation interpolates
# with the natural cubic spline through the 19 published nodes
# (coefficients solved once at import by a pure-Python tridiagonal
# pass and embedded as literals in the stages);
# the inverse solves the monotone Y cubic per interval with a
# fixed-count Newton (4 iterations — the sterea/somerc discipline:
# both engines run the SAME count).

#: the published Robinson table: (X, Y) per 5 deg, 0..90
_ROBIN_X = (1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600,
            0.9427, 0.9216, 0.8962, 0.8679, 0.8350, 0.7986, 0.7597,
            0.7186, 0.6732, 0.6213, 0.5722, 0.5322)
_ROBIN_Y = (0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720,
            0.4340, 0.4958, 0.5571, 0.6176, 0.6769, 0.7346, 0.7903,
            0.8435, 0.8936, 0.9394, 0.9761, 1.0000)
_ROBIN_XK = 0.8487
_ROBIN_YK = 1.3523
_ROBIN_ITERS = 4


def _nat_cubic_coeffs(v: tuple) -> list[tuple]:
    """Natural cubic spline through ``v`` at unit spacing: per-interval
    (a, b, c, d) with value a + b s + c s^2 + d s^3, s in [0, 1].
    Pure-Python Thomas algorithm (n = 19 — microseconds at import)."""
    n = len(v) - 1
    rhs = [0.0] + [6.0 * (v[i + 1] - 2.0 * v[i] + v[i - 1])
                   for i in range(1, n)] + [0.0]
    # tridiagonal (1, 4, 1) with natural ends M[0] = M[n] = 0
    cp = [0.0] * (n + 1)
    dp = [0.0] * (n + 1)
    for i in range(1, n):
        m = 4.0 - cp[i - 1]
        cp[i] = 1.0 / m
        dp[i] = (rhs[i] - dp[i - 1]) / m
    big_m = [0.0] * (n + 1)
    for i in range(n - 1, 0, -1):
        big_m[i] = dp[i] - cp[i] * big_m[i + 1]
    out = []
    for i in range(n):
        a = v[i]
        c = big_m[i] / 2.0
        d = (big_m[i + 1] - big_m[i]) / 6.0
        b = v[i + 1] - v[i] - (2.0 * big_m[i] + big_m[i + 1]) / 6.0
        out.append((a, b, c, d))
    return out


_ROBIN_XC = _nat_cubic_coeffs(_ROBIN_X)
_ROBIN_YC = _nat_cubic_coeffs(_ROBIN_Y)

#: crs -> sphere radius (the ESRI:54030 convention uses the WGS84
#: semi-major as the sphere, like web-mercator)
ROBIN_PARAMS: dict[str, float] = {
    "ESRI:54030": 6_378_137.0,
}


def _robin_pick(i: E, vals: list[float]) -> E:
    """CASE ladder selecting a per-interval spline constant."""
    expr = X.lit(vals[-1])
    for j in range(len(vals) - 2, -1, -1):
        expr = X.when(i == j, X.lit(vals[j])).otherwise(expr)
    return expr


def _lonlat_to_robin_fn(crs: str) -> Transform:
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))

    def c_ad(env):
        return X.least(X.abs(env["__in_y"]) / X.lit(5.0),
                       X.lit(17.999999))

    def c_i(env):
        return X.floor(env["__ad"]).cast("int")

    def c_s(env):
        return env["__ad"] - env["__i"].cast("double")

    def c_xf(env):
        i, s = env["__i"], env["__s"]
        return (_robin_pick(i, xa) + _robin_pick(i, xb) * s
                + _robin_pick(i, xc) * s * s
                + _robin_pick(i, xd) * s * s * s)

    def c_yf(env):
        i, s = env["__i"], env["__s"]
        return (_robin_pick(i, ya) + _robin_pick(i, yb) * s
                + _robin_pick(i, yc) * s * s
                + _robin_pick(i, yd) * s * s * s)

    def c_out_x(env):
        return X.lit(xk) * env["__xf"] * X.radians(env["__in_x"])

    def c_out_y(env):
        return (X.lit(yk) * env["__yf"]
                * X.signum(env["__in_y"] + X.lit(0.0)))

    return staged([
        {"__ad": c_ad},
        {"__i": c_i},
        {"__s": c_s},
        {"__xf": c_xf, "__yf": c_yf},
        {"__out_x": c_out_x, "__out_y": c_out_y},
    ])


def _robin_to_lonlat_fn(crs: str) -> Transform:
    r = ROBIN_PARAMS[crs.upper()]
    xk, yk = _ROBIN_XK * r, _ROBIN_YK * r
    xa, xb, xc, xd = (list(t) for t in zip(*_ROBIN_XC))
    ya, yb, yc, yd = (list(t) for t in zip(*_ROBIN_YC))
    nodes = list(_ROBIN_Y)

    def c_ay(env):
        return X.least(X.abs(env["__in_y"]) / X.lit(yk), X.lit(1.0))

    def c_i(env):
        # largest interval whose lower node <= ay (17 comparisons),
        # capped at the last interval
        ay = env["__ay"]
        i = X.lit(0)
        for j in range(1, len(nodes) - 1):
            i = i + X.when(ay >= X.lit(nodes[j]), 1).otherwise(0)
        return i.cast("int")

    def c_s(env):
        # linear seed inside the interval
        i, ay = env["__i"], env["__ay"]
        lo = _robin_pick(i, nodes[:-1])
        hi = _robin_pick(i, nodes[1:])
        return (ay - lo) / (hi - lo)

    def mk_step(env):
        i, s, ay = env["__i"], env["__s"], env["__ay"]
        f = (_robin_pick(i, ya) + _robin_pick(i, yb) * s
             + _robin_pick(i, yc) * s * s
             + _robin_pick(i, yd) * s * s * s) - ay
        fp = (_robin_pick(i, yb) + X.lit(2.0) * _robin_pick(i, yc) * s
              + X.lit(3.0) * _robin_pick(i, yd) * s * s)
        return s - f / fp

    def c_lat(env):
        return (X.lit(5.0) * (env["__i"].cast("double") + env["__s"])
                * X.signum(env["__in_y"] + X.lit(0.0)))

    def c_lon(env):
        i, s = env["__i"], env["__s"]
        xf = (_robin_pick(i, xa) + _robin_pick(i, xb) * s
              + _robin_pick(i, xc) * s * s
              + _robin_pick(i, xd) * s * s * s)
        return X.degrees(env["__in_x"] / (X.lit(xk) * xf))

    stages = [{"__ay": c_ay}, {"__i": c_i}, {"__s": c_s}]
    for _ in range(_ROBIN_ITERS):
        stages.append({"__s": mk_step})
    stages.append({"__out_x": c_lon, "__out_y": c_lat})
    return staged(stages)


#: (parameter table, from-lon/lat function, to-lon/lat function) per
#: parameterized family; EPSG:3857, EPSG:27700 and the UTM zones are
#: matched by code below
_FAMILIES: list[tuple[dict, Callable[[str], Transform],
                      Callable[[str], Transform]]] = [
    (MERC_PARAMS, _lonlat_to_merc_fn, _merc_to_lonlat_fn),
    (GEOS_PARAMS, _lonlat_to_geos_fn, _geos_to_lonlat_fn),
    (ROTPOLE_PARAMS, _lonlat_to_rotpole_fn, _rotpole_to_lonlat_fn),
    (STEREA_PARAMS, _lonlat_to_sterea_fn, _sterea_to_lonlat_fn),
    (SOMERC_PARAMS, _lonlat_to_somerc_fn, _somerc_to_lonlat_fn),
    (KROVAK_PARAMS, _lonlat_to_krovak_fn, _krovak_to_lonlat_fn),
    (EQEARTH_PARAMS, _lonlat_to_eqearth_fn, _eqearth_to_lonlat_fn),
    (CASS_PARAMS, _lonlat_to_cass_fn, _cass_to_lonlat_fn),
    (POLY_PARAMS, _lonlat_to_poly_fn, _poly_to_lonlat_fn),
    (PS_PARAMS, _lonlat_to_ps_fn, _ps_to_lonlat_fn),
    (CEA_PARAMS, _lonlat_to_cea_fn, _cea_to_lonlat_fn),
    (AEQD_PARAMS, _lonlat_to_aeqd_fn, _aeqd_to_lonlat_fn),
    (ORTHO_PARAMS, _lonlat_to_ortho_fn, _ortho_to_lonlat_fn),
    (NSPER_PARAMS, _lonlat_to_nsper_fn, _nsper_to_lonlat_fn),
    (STEREG_PARAMS, _lonlat_to_stereg_fn, _stereg_to_lonlat_fn),
    (OMERC_PARAMS, _lonlat_to_omerc_fn, _omerc_to_lonlat_fn),
    (EQC_PARAMS, _lonlat_to_eqc_fn, _eqc_to_lonlat_fn),
    (EQDC_PARAMS, _lonlat_to_eqdc_fn, _eqdc_to_lonlat_fn),
    (LAEA_PARAMS, _lonlat_to_laea_fn, _laea_to_lonlat_fn),
    (LCC_PARAMS, _lonlat_to_lcc_fn, _lcc_to_lonlat_fn),
    (AEA_PARAMS, _lonlat_to_aea_fn, _aea_to_lonlat_fn),
    (SINU_PARAMS, _lonlat_to_sinu_fn, _sinu_to_lonlat_fn),
    (MOLL_PARAMS, _lonlat_to_moll_fn, _moll_to_lonlat_fn),
    (ECK4_PARAMS, _lonlat_to_eck4_fn, _eck4_to_lonlat_fn),
    (NATEARTH_PARAMS, _lonlat_to_natearth_fn, _natearth_to_lonlat_fn),
    (GNOM_PARAMS, _lonlat_to_gnom_fn, _gnom_to_lonlat_fn),
    (MILL_PARAMS, _lonlat_to_mill_fn, _mill_to_lonlat_fn),
    (VANDG_PARAMS, _lonlat_to_vandg_fn, _vandg_to_lonlat_fn),
    (ROBIN_PARAMS, _lonlat_to_robin_fn, _robin_to_lonlat_fn),
    (HAMMER_PARAMS, _lonlat_to_hammer_fn, _hammer_to_lonlat_fn),
    (IGH_PARAMS, _lonlat_to_igh_fn, _igh_to_lonlat_fn),
    (WINTRI_PARAMS, _lonlat_to_wintri_fn, _wintri_to_lonlat_fn),
    (TM_PARAMS, _lonlat_to_tm_fn, _tm_to_lonlat_fn),
]


def _to_lonlat_fn(crs: str) -> Transform | None:
    """Closed-form transform from ``crs`` into EPSG:4326, if known."""
    up = crs.upper()
    if up == "EPSG:4326":
        return _IDENTITY
    if up == "EPSG:3857":
        return single(_mercator_to_lonlat)
    for table, _, inv in _FAMILIES:
        if up in table:
            return inv(up)
    if up == "EPSG:27700":
        return _osgb_to_lonlat_fn()
    return _tm_to_lonlat_fn(up) if parse_utm_crs(up) else None


def _from_lonlat_fn(crs: str) -> Transform | None:
    """Closed-form transform from EPSG:4326 into ``crs``, if known."""
    up = crs.upper()
    if up == "EPSG:4326":
        return _IDENTITY
    if up == "EPSG:3857":
        return single(_lonlat_to_mercator)
    for table, fwd, _ in _FAMILIES:
        if up in table:
            return fwd(up)
    if up == "EPSG:27700":
        return _lonlat_to_osgb_fn()
    return _lonlat_to_tm_fn(up) if parse_utm_crs(up) else None


def get_transform(src_crs, dst_crs) -> Transform:
    """Transform from ``src_crs`` coords into ``dst_crs`` coords.

    Each CRS may be an authority string (``EPSG:32633``), a PROJ.4
    parameter string (``+proj=tmerc +lat_0=…``), or a CF grid-mapping
    attribute mapping (``{'grid_mapping_name': …}``) — the latter two
    resolve through :mod:`.crsparse` onto the parameterized
    closed-form families (reference parity:
    `pyproj.CRS.from_cf` / arbitrary-CRS transforms at
    `xcube/core/gridmapping/cfconv.py:211`, `transform.py`).

    A pair the families do not cover falls back to pyproj in a
    ``pandas_udf`` when the package is installed, and raises otherwise."""
    from xcube_spark.operators.resampling.crsparse import resolve_crs

    src_crs = resolve_crs(src_crs)
    dst_crs = resolve_crs(dst_crs)
    src, dst = src_crs.upper(), dst_crs.upper()
    if src == dst == "EPSG:3857":  # like 4326 -> 4326 below: identity
        return _IDENTITY
    to_ll, from_ll = _to_lonlat_fn(src), _from_lonlat_fn(dst)
    if to_ll is not None and from_ll is not None:
        if dst == "EPSG:4326":
            return to_ll
        if src == "EPSG:4326":
            return from_ll
        return to_ll.then(from_ll)
    try:  # pragma: no cover - pyproj absent in the build container
        import pandas as pd
        import pyproj
        from pyspark.sql.functions import pandas_udf

        tf = pyproj.Transformer.from_crs(src_crs, dst_crs, always_xy=True)

        # NOTE: no parameter type hints — this module uses PEP 563
        # (`from __future__ import annotations`), which stringifies
        # them and breaks pandas_udf's eval-type inference (caught by
        # the stub-transformer seam test); hint-less defaults to the
        # scalar eval type, which is what a Series->DataFrame struct
        # UDF needs.
        @pandas_udf("struct<x: double, y: double>")
        def _proj(x, y):
            xx, yy = tf.transform(x.to_numpy(), y.to_numpy())
            return pd.DataFrame({"x": xx, "y": yy})

        return Transform((), udf=_proj)
    except ImportError as exc:
        raise NotImplementedError(
            f"no closed-form transform for {src_crs} -> {dst_crs} and "
            "pyproj is not installed; add a family (see the module "
            "docstring) or install pyproj"
        ) from exc


def apply_transform_df(df: DataFrame, transform: Transform, x: str, y: str,
                       out_x: str, out_y: str) -> DataFrame:
    """Add columns ``out_x``/``out_y`` = ``transform`` of the Spark-SQL
    expressions ``x``/``y`` (column names or any expression over
    ``df``): one ``withColumns`` per stage, intermediates dropped.  A
    single-stage transform is one projection with the inputs inlined."""
    if transform.udf is not None:
        s = transform.udf(F.expr(x), F.expr(y))
        return df.withColumns({out_x: s.getField("x"),
                               out_y: s.getField("y")})
    names = {"__in_x": f"({x})", "__in_y": f"({y})"}
    *head, last = transform.stages
    for stage in head:
        df = df.withColumns({n: F.expr(X.spark_sql(e, names))
                             for n, e in stage.items()})
    df = df.withColumns({
        out_x: F.expr(X.spark_sql(last["__out_x"], names)),
        out_y: F.expr(X.spark_sql(last["__out_y"], names)),
    })
    tmp = list(dict.fromkeys(n for stage in head for n in stage))
    return df.drop(*tmp) if tmp else df


def lonlat_sql(crs, x_sql: str, y_sql: str, src: str = "tgt",
               name: str = "ll") -> str:
    """DuckDB CTEs putting EPSG:4326 ``lon``/``lat`` of the ``crs``
    coordinates ``x_sql``/``y_sql`` beside ``src``'s columns, as CTE
    ``name`` — the same stages ``reproject_dataset`` runs on Spark,
    for the oracles."""
    return X.duckdb_ctes(get_transform(crs, "EPSG:4326").stages,
                         x_sql, y_sql, src, name, ("lon", "lat"))


def reproject_dataset(
    cube: DataFrame,
    source: CubeGrid,
    target: CubeGrid,
    var_names: Iterable[str] | None = None,
) -> DataFrame:
    """Gather-join reprojection of ``cube`` (on grid ``source``, CRS
    ``source.crs``) onto ``target`` (CRS ``target.crs``), nearest mode
    (the reference's default gather, reproject.py:360-430)."""
    from xcube_spark.cube.grid import var_names as cube_vars

    spark: SparkSession = cube.sparkSession
    vars_ = list(var_names) if var_names is not None else cube_vars(cube)
    transform = get_transform(target.crs, source.crs)

    plane = target.width * target.height
    tgt = spark.range(target.size).select(
        (F.col("id") / plane).cast("int").alias("t_i"),
        ((F.col("id") % plane) / target.width).cast("int").alias("y_i"),
        (F.col("id") % target.width).cast("int").alias("x_i"),
    )
    tgt = apply_transform_df(tgt, transform, target.x_center_sql("x_i"),
                             target.y_center_sql("y_i"), "__tsx", "__tsy")
    tgt = tgt.select(
        "t_i", "y_i", "x_i",
        target.time_center_expr(F.col("t_i")).alias("time"),
        target.y_center_expr(F.col("y_i")).alias("y"),
        target.x_center_expr(F.col("x_i")).alias("x"),
        source.x_index_expr(F.col("__tsx")).alias("__sx"),
        source.y_index_expr(F.col("__tsy")).alias("__sy"),
    )

    src_cells = cube.select(
        F.col("t_i").alias("__st"),
        F.col("y_i").alias("__ssy"),
        F.col("x_i").alias("__ssx"),
        *vars_,
    )
    if transform.deep:
        # staged transforms (datum hops, fixed-count Newton solves)
        # are deep alias chains; Dynamic Partition Pruning's join-key
        # lineage walk (PartitionPruning.findExpressionAndTrackLineageDown)
        # substitutes aliases transitively through every Project and
        # goes exponential on them (the somerc chain hung the
        # optimizer for minutes and OOMed the driver).  A persist
        # barrier turns the target table into an InMemoryRelation
        # LEAF: the walk stops there, DPP stays enabled for the
        # partitioned scans it exists for, and — unlike
        # localCheckpoint — lineage is kept, so lost cache blocks
        # recompute instead of failing the job.  The table is one
        # bounded grid (output raster size), MEMORY_AND_DISK.
        tgt = tgt.persist()
    # target table is bounded by the requested output size and has no
    # stats (spark.range) — broadcast it so the source never shuffles
    if target.size <= 4_000_000:
        tgt = F.broadcast(tgt)
    joined = tgt.join(
        src_cells,
        on=[
            F.col("t_i") == F.col("__st"),
            F.col("__sy") == F.col("__ssy"),
            F.col("__sx") == F.col("__ssx"),
        ],
        how="left",
    )
    return joined.select("t_i", "y_i", "x_i", "time", "y", "x", *vars_)
