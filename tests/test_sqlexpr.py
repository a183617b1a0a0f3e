"""One formula, two dialects: every projection family's stages render
to Spark SQL and DuckDB SQL that agree (reproject.py / sqlexpr.py).

Each family is sampled on the target grid of its ``cube_reproject_*``
gate query (centers chosen inside the projection's domain): the
inverse runs on the grid centers, the forward on the lon/lat the
inverse returns, and both directions must match across the engines:
lon/lat to 1e-10 degrees, projected coordinates to 1e-10 of their
magnitude (floored at 1)."""

from __future__ import annotations

import math

import duckdb
import pytest

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.operators.resampling import reproject as R
from xcube_spark.operators.resampling import sqlexpr as X
from xcube_spark.operators.resampling.crsparse import resolve_crs
from xcube_spark.queries import load_all

load_all()  # registers the PROJ:* keys of the gate grids
from xcube_spark.queries import resampling_ops  # noqa: E402

_GRIDS: dict[str, CubeGrid] = {}
for _g in vars(resampling_ops).values():
    if isinstance(_g, CubeGrid) and resolve_crs(_g.crs) != "EPSG:4326":
        _GRIDS.setdefault(resolve_crs(_g.crs).upper(), _g)


def test_every_family_has_a_parity_grid():
    for table, fwd, _ in R._FAMILIES:
        assert any(k in table for k in _GRIDS), fwd.__name__
    assert {"EPSG:3857", "EPSG:27700", "EPSG:32633"} <= set(_GRIDS)


def _close(a, b, relative: bool) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-10 * (max(1.0, abs(a)) if relative else 1.0)


def _both_engines(spark, t: R.Transform, pts, relative: bool = False):
    """``t`` applied to ``pts`` by Spark and by DuckDB, row-aligned."""
    df = spark.createDataFrame([(k, x, y) for k, (x, y) in enumerate(pts)],
                               "k long, x double, y double")
    on_spark = [(r.ox, r.oy) for r in R.apply_transform_df(
        df, t, "x", "y", "ox", "oy").orderBy("k").collect()]
    values = ", ".join(
        f"({k}, {X.duckdb_sql(X.lit(x))}, {X.duckdb_sql(X.lit(y))})"
        for k, (x, y) in enumerate(pts))
    ctes = X.duckdb_ctes(t.stages, "x", "y", "tgt", "ll", ("ox", "oy"))
    on_duckdb = duckdb.connect().execute(f"""
        WITH tgt AS (SELECT * FROM (VALUES {values}) v(k, x, y)), {ctes}
        SELECT ox, oy FROM ll ORDER BY k""").fetchall()
    assert len(on_spark) == len(on_duckdb) == len(pts)
    for p, s, d in zip(pts, on_spark, on_duckdb):
        assert all(_close(a, b, relative) for a, b in zip(s, d)), (p, s, d)
    return on_spark


def _centers(g: CubeGrid, step: int = 6):
    ys = [(g.y_end - (j + 0.5) * g.y_res) if g.inverse_y
          else (g.y_start + (j + 0.5) * g.y_res)
          for j in range(0, g.height, step)]
    return [(g.x_start + (i + 0.5) * g.x_res, y)
            for i in range(0, g.width, step) for y in ys]


@pytest.mark.parametrize("crs", sorted(_GRIDS))
def test_spark_and_duckdb_renderings_agree(spark, crs):
    inv = R.get_transform(crs, "EPSG:4326")
    fwd = R.get_transform("EPSG:4326", crs)
    lonlat = _both_engines(spark, inv, _centers(_GRIDS[crs]))
    _both_engines(spark, fwd, [p for p in lonlat if None not in p],
                  relative=True)


def test_chained_transform_renders_in_both_engines(spark):
    """A 4326-hop chain is one concatenated stage list: the second
    leg's stage names shadow the first's, in both engines."""
    t = R.get_transform("EPSG:27700", "EPSG:3035")
    assert t.deep
    out = _both_engines(spark, t, _centers(_GRIDS["EPSG:27700"], step=13),
                        relative=True)
    assert all(None not in p for p in out)


@pytest.mark.parametrize("v", [1e-08, -0.0, 1e300, 0.5, -2.5, 6378137.0])
def test_literals_render_as_double(spark, v):
    """Tiny, negative and exponent-form literals parse as DOUBLE (not
    DECIMAL) in both dialects, and keep their exact value and sign."""
    s = X.spark_sql(X.lit(v))
    typ, got = spark.sql(f"SELECT typeof({s}), {s}").first()
    assert typ == "double" and got == v
    assert math.copysign(1.0, got) == math.copysign(1.0, v)
    d = X.duckdb_sql(X.lit(v))
    typ, got = duckdb.connect().execute(
        f"SELECT typeof({d}), {d}").fetchone()
    assert typ == "DOUBLE" and got == v
    assert math.copysign(1.0, got) == math.copysign(1.0, v)
