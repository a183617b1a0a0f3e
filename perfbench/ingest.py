"""``ingest``: the write side of the ``sources`` layer.

One pass is four operations:

1. ``stream``: seeded time-slice granules are streamed into a
   ``t_i``-partitioned parquet cube through ``append_stream_to_cube``
   (which calls ``update_time_slice`` per micro-batch);
2. ``layout``: the grown cube is re-laid out with ``write_cube_layout``;
3. ``zarr_write``: the laid-out cube is exported with ``write_zarr_cube``;
4. ``zarr_read``: a seeded subset is read back with
   ``open_zarr_cube(cell_bounds=...)`` and ``toArrow()``.

Outputs are checked against numpy values of the cube's closed forms,
outside the timed region."""

from __future__ import annotations

import math
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from batch import WARMUP_PASSES, closed_loop
from common import WORK, dir_stats
from datagen import CubeSpec

OPS = ("stream", "layout", "zarr_write", "zarr_read")
#: steady-state pass time on the reference host (see batch.NOMINAL_PASS_S)
NOMINAL_PASS_S = 2.5


def prepare(args):
    spec = CubeSpec(width=36 if args.tiny else 360,
                    time_periods=2 if args.tiny else 6, seed=args.seed)
    gdir = WORK / "ingest" / f"granules-{spec.width}x{spec.time_periods}-{args.seed}"
    if not (gdir / "_DONE").exists():
        shutil.rmtree(gdir, ignore_errors=True)
        gdir.mkdir(parents=True)
        for t_i in range(spec.time_periods):
            pq.write_table(spec.slice_table(t_i), gdir / f"g{t_i:04d}.parquet")
        (gdir / "_DONE").write_text("")
    return spec, str(gdir)


def _subset(spec: CubeSpec, seed: int) -> dict[str, tuple[int, int]]:
    r = np.random.default_rng([seed, 13])
    w, h = spec.width // 4, spec.height // 4
    i, j = int(r.integers(0, spec.width - w)), int(r.integers(0, spec.height - h))
    t = int(r.integers(0, spec.time_periods))
    return {"t_i": (t, spec.time_periods - 1), "y_i": (j, j + h - 1),
            "x_i": (i, i + w - 1)}


def _sums_ok(spec: CubeSpec, df) -> bool:
    """Row count and per-variable sums of a whole cube against numpy."""
    from pyspark.sql import functions as F

    row = df.agg(F.count("*").alias("n"), F.sum("A").alias("a"),
                 F.sum("B").alias("b")).collect()[0]
    t, y, x = np.meshgrid(np.arange(spec.time_periods),
                          np.arange(spec.height), np.arange(spec.width),
                          indexing="ij")
    return (row["n"] == t.size
            and math.isclose(row["a"], spec.values("A", t, y, x).sum(),
                             rel_tol=1e-9)
            and math.isclose(row["b"], spec.values("B", t, y, x).sum(),
                             rel_tol=1e-9, abs_tol=1e-6))


def _subset_ok(spec: CubeSpec, table, bounds) -> bool:
    cols = {c: table.column(c).to_numpy() for c in
            ("t_i", "y_i", "x_i", "A", "B")}
    (t0, t1), (y0, y1), (x0, x1) = (bounds[k] for k in ("t_i", "y_i", "x_i"))
    n = (t1 - t0 + 1) * (y1 - y0 + 1) * (x1 - x0 + 1)
    if table.num_rows != n:
        return False
    if not ((cols["t_i"] >= t0).all() and (cols["t_i"] <= t1).all()
            and (cols["y_i"] >= y0).all() and (cols["y_i"] <= y1).all()
            and (cols["x_i"] >= x0).all() and (cols["x_i"] <= x1).all()):
        return False
    if len(set(zip(cols["t_i"], cols["y_i"], cols["x_i"]))) != n:
        return False
    return all(np.allclose(cols[v], spec.values(v, cols["t_i"], cols["y_i"],
                                                 cols["x_i"]),
                           rtol=1e-12, atol=1e-12) for v in ("A", "B"))


def run(args, spark, inputs) -> dict:
    import xcube_spark.streaming.writer as writer
    from xcube_spark.sources.layout import open_cube_layout, write_cube_layout
    from xcube_spark.sources.zarrio import open_zarr_cube, write_zarr_cube
    from xcube_spark.streaming.writer import append_stream_to_cube

    spec, gdir = inputs
    grid = spec.grid()
    bounds = _subset(spec, args.seed)
    user_bytes = spec.width * spec.height * spec.time_periods * 2 * 8
    schema = spark.read.parquet(gdir).schema
    out_root = WORK / "ingest" / "out"
    state = {"k": 0, "slice_s": 0.0, "out": None, "stored": []}

    # timed calls into update_time_slice, as the stream writer makes them
    orig_update = writer.update_time_slice

    def timed_update(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig_update(*a, **kw)
        finally:
            state["slice_s"] += time.perf_counter() - t0

    writer.update_time_slice = timed_update

    def new_pass():
        state["k"] += 1
        out = out_root / f"p{state['k']}"
        shutil.rmtree(out_root, ignore_errors=True)
        out.mkdir(parents=True)
        state["out"] = out
        return out

    def op(name, group=None, tracer=None, py4j=None, probe=None):
        if name == "stream":
            new_pass()
        out = state["out"]
        rec = {"name": name}
        if probe is not None:
            probe.set_group(group)
            rec["group"] = group
        state["slice_s"] = 0.0
        t0 = time.perf_counter()
        span = tracer.span(f"sources.{name}", request=group) if tracer \
            else nullcontext()
        with span:
            if name == "stream":
                stream = (spark.readStream.schema(schema)
                          .option("maxFilesPerTrigger", 1).parquet(gdir))
                q = append_stream_to_cube(stream, str(out / "cube"),
                                          str(out / "ckpt"))
                q.awaitTermination()
                result = q
            elif name == "layout":
                write_cube_layout(spark.read.parquet(str(out / "cube")),
                                  str(out / "layout"), grid,
                                  files_per_partition=2, mode="overwrite")
                result = None
            elif name == "zarr_write":
                result = write_zarr_cube(
                    open_cube_layout(spark, str(out / "layout")),
                    str(out / "zarr"), grid, mode="overwrite")
            else:
                result = open_zarr_cube(spark, str(out / "zarr"),
                                        cell_bounds=bounds).toArrow()
        lat = time.perf_counter() - t0
        if probe is not None:
            probe.clear_group()
        rec["op_s"] = lat
        rec["slice_s"] = state["slice_s"]
        if name == "stream":
            rec["run_id"] = str(result.runId)
            rec["progress"] = result.recentProgress
        elif name == "zarr_write":
            rec["chunks"] = result
        return lat, result, rec

    def check(name, result) -> bool:
        out = state["out"]
        if name == "stream":
            b, _ = dir_stats(out / "cube")
            state["stored"].append(b / user_bytes)
            return _sums_ok(spec, spark.read.parquet(str(out / "cube")))
        if name == "layout":
            return _sums_ok(spec, open_cube_layout(spark, str(out / "layout")))
        if name == "zarr_write":  # one object per chunk and variable
            _, cy, cx = grid.chunks
            return result == 2 * spec.time_periods * (
                -(-spec.height // cy)) * (-(-spec.width // cx))
        return _subset_ok(spec, result, bounds)

    def absorb(layers, probe, rec):
        name = rec["name"]
        if name == "stream":
            st = probe.group_stats(rec["run_id"])
            prog = [p for p in rec["progress"] if p.get("numInputRows")]
            layers.add("streaming.batches", len(prog))
            layers.add("streaming.trigger_s", sum(
                p["durationMs"].get("triggerExecution", 0)
                for p in prog) / 1000.0)
            layers.add("streaming.add_batch_s", sum(
                p["durationMs"].get("addBatch", 0) for p in prog) / 1000.0)
            layers.add("sources.timeslice_write_s", rec["slice_s"])
            out = state["out"] / "cube"
        else:
            st = probe.group_stats(rec["group"])
            out = state["out"] / {"layout": "layout", "zarr_write": "zarr",
                                  "zarr_read": "none"}[name]
            layers.add({"layout": "sources.layout_write_s",
                        "zarr_write": "sources.zarr_write_s",
                        "zarr_read": "sources.zarr_read_s"}[name], rec["op_s"])
        layers.add_spark(st)
        layers.add("spark.exec_s", st["busy_s"])
        layers.add("spark.op_wall_s", rec["op_s"])
        if name != "zarr_read":
            b, f = dir_stats(out)
            layers.add("sources.bytes_written", b)
            layers.add("sources.files_written", f)
        if name == "zarr_write":
            layers.add("sources.zarr_chunks_written", rec["chunks"])

    for _ in range(WARMUP_PASSES):
        for name in OPS:
            op(name)
    res = closed_loop("ingest", OPS, args.seconds, NOMINAL_PASS_S,
                      bool(args.trace), spark, op, check, absorb)
    writer.update_time_slice = orig_update
    shutil.rmtree(out_root, ignore_errors=True)
    pass_s = float(np.median(res["plain"]["passes"]))
    res["report"] = {
        "ingest_mb_per_s": {"value": user_bytes / 1e6 / pass_s,
                            "unit": "MB/s"},
        "stored_bytes_per_user_byte": {
            "value": float(np.median(state["stored"])), "unit": "ratio"},
        "user_bytes_per_pass": {"value": user_bytes, "unit": "B"},
    }
    return res

