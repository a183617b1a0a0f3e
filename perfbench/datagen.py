"""Deterministic inputs for every workload.

- ``write_tables``: the two tables the batch rows read (``events`` and
  ``lineitem``), in the schema of the repo's TPC-H-ish test data, sized
  by the scale factor.  They are fixed
  per scale factor (generator seed ``TABLE_SEED``) so that the committed
  DuckDB oracle digests apply; the workload seed only permutes the
  operation order.
- ``CubeSpec``: a seeded cube whose variables are closed forms in the
  cell indices, so every served or ingested value can be recomputed in
  numpy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    users = max(15, int(15_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86_400 * 10**9
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng, sf: float) -> pa.Table:
    n = int(6_000_000 * sf)
    day0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2498, n)
    return pa.table({
        "l_orderkey": pa.array(
            rng.integers(0, max(1, int(1_500_000 * sf)), n, dtype=np.int64)),
        "l_partkey": pa.array(
            rng.integers(0, max(1, int(200_000 * sf)), n, dtype=np.int64)),
        "l_suppkey": pa.array(
            rng.integers(0, max(1, int(10_000 * sf)), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(list("ANR"))[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(list("OF"))[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array((day0 + days).astype("datetime64[us]")),
    })


#: table -> (generator, rows per parquet row group at sf 1); row groups
#: bound scan parallelism, so they scale with the table
TABLES = {
    "events": (_events, 500_000),
    "lineitem": (_lineitem, 2_000_000),
}


def write_tables(out_dir: str, sf: float) -> dict[str, str]:
    """Write the batch tables under ``out_dir`` (atomically, so a cut run
    never leaves a half-written cache) and return a content fingerprint
    per table.  Reuses a complete earlier write."""
    marker = os.path.join(out_dir, "FINGERPRINTS")
    if os.path.exists(marker):
        with open(marker) as f:
            return dict(line.split() for line in f if line.strip())
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    prints = {}
    for name, (gen, rg) in TABLES.items():
        rng = np.random.default_rng([TABLE_SEED, zlib.crc32(name.encode())])
        table = gen(rng, sf)
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1000, int(rg * sf)))
        prints[name] = table_fingerprint(table)
    with open(os.path.join(tmp, "FINGERPRINTS"), "w") as f:
        for k, v in sorted(prints.items()):
            f.write(f"{k} {v}\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return prints


def table_fingerprint(table: pa.Table) -> str:
    h = hashlib.sha256()
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


# ---- the seeded closed-form cube (serve + ingest) -------------------------

T0 = datetime(2020, 1, 1, tzinfo=timezone.utc)


@dataclass(frozen=True)
class CubeSpec:
    """A lon/lat cube over [-180, 180] x [-60, 75] whose two variables are
    closed forms of the cell indices with seed-drawn coefficients:

    - ``A = a0 + a1*t_i + a2*y_i + a3*x_i`` (a smooth ramp);
    - ``B = b0*sin(x_i*b1) * cos(y_i*b2) + b3*t_i`` (a wave field).

    The extent stops short of the poles so that map tiles are only partly
    covered, which the tile check counts.
    """

    width: int
    time_periods: int
    seed: int

    @property
    def res(self) -> float:
        return 360.0 / self.width

    @property
    def height(self) -> int:
        return round(135.0 / self.res)

    @property
    def coeffs(self) -> dict[str, float]:
        r = np.random.default_rng([self.seed, 7])
        a = r.uniform([0.0, 0.5, 0.001, 0.0005], [10.0, 2.0, 0.01, 0.005])
        b = r.uniform([1.0, 0.01, 0.01, 0.1], [5.0, 0.05, 0.05, 1.0])
        return {"a0": a[0], "a1": a[1], "a2": a[2], "a3": a[3],
                "b0": b[0], "b1": b[1], "b2": b[2], "b3": b[3]}

    def grid(self):
        from xcube_spark.cube.grid import CubeGrid

        chunk = max(1, self.width // 8)
        return CubeGrid(width=self.width, height=self.height,
                        time_periods=self.time_periods, x_res=self.res,
                        y_res=self.res, x_start=-180.0, y_start=-60.0,
                        t_start=T0.replace(tzinfo=None),
                        chunks=(1, chunk, chunk))

    def spark_vars(self) -> dict[str, str]:
        c = {k: f"{float(v)!r}D" for k, v in self.coeffs.items()}
        return {
            "A": f"{c['a0']} + {c['a1']} * t_i + {c['a2']} * y_i"
                 f" + {c['a3']} * x_i",
            "B": f"{c['b0']} * sin(x_i * {c['b1']}) * cos(y_i * {c['b2']})"
                 f" + {c['b3']} * t_i",
        }

    def value_range(self, var: str) -> tuple[float, float]:
        """A colour range that covers ``var`` over the whole cube."""
        c = self.coeffs
        if var == "A":
            return c["a0"], (c["a0"] + c["a1"] * (self.time_periods - 1)
                             + c["a2"] * self.height + c["a3"] * self.width)
        return -c["b0"], c["b0"] + c["b3"] * (self.time_periods - 1)

    def values(self, var: str, t_i, y_i, x_i) -> np.ndarray:
        """numpy evaluation of ``var`` at broadcastable index arrays, in
        the same operation order as :meth:`spark_vars`."""
        c = self.coeffs
        t_i, y_i, x_i = (np.asarray(v, np.float64) for v in (t_i, y_i, x_i))
        if var == "A":
            return c["a0"] + c["a1"] * t_i + c["a2"] * y_i + c["a3"] * x_i
        return (c["b0"] * np.sin(x_i * c["b1"]) * np.cos(y_i * c["b2"])
                + c["b3"] * t_i)

    def slice_table(self, t_i: int) -> pa.Table:
        """One time slice as a cells table (the granule format of the
        ingest workload): index, coordinate and variable columns."""
        g = self.grid()
        yy, xx = np.meshgrid(np.arange(self.height), np.arange(self.width),
                             indexing="ij")
        yy, xx = yy.ravel().astype(np.int32), xx.ravel().astype(np.int32)
        tt = np.full(yy.shape, t_i, np.int32)
        t_us = int((T0.timestamp() + (t_i + 0.5) * 86_400.0) * 1e6)
        return pa.table({
            "t_i": pa.array(tt),
            "y_i": pa.array(yy),
            "x_i": pa.array(xx),
            "time": pa.array(np.full(yy.shape, t_us, np.int64),
                             pa.timestamp("us", tz="UTC")),
            "y": pa.array(g.y_start + (yy + 0.5) * g.y_res),
            "x": pa.array(g.x_start + (xx + 0.5) * g.x_res),
            "A": pa.array(self.values("A", tt, yy, xx)),
            "B": pa.array(self.values("B", tt, yy, xx)),
        })
