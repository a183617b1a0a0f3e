"""``serve``: an open loop at fixed offered rates against a ``CubeServer``
on loopback HTTP.

The server holds a seeded cube written by ``write_cube_layout`` and
opened by ``open_cube_layout``.  Requests are a seeded mix of fixed-range
tiles, auto-stretched tiles, bbox time series, point statistics and
per-time statistics; tile keys follow a Zipf popularity, so some repeat.
Each request is timed from when it was due.  Every response is checked
against values computed in numpy from the cube's closed forms."""

from __future__ import annotations

import http.client
import json
import math
import struct
import threading
import time
import zlib
from datetime import timedelta
from urllib.parse import urlencode

import numpy as np

from common import WORK, nproc, tail
from datagen import T0, CubeSpec
from tracing import Layers, Py4jCounter, SparkProbe, Tracer

#: offered rates (requests/s); the window is split evenly over them
RATES = (1.0, 1.25, 1.5)
#: the latency limit on ``op_tail_s`` for ``max_rate_ops_per_s``
LATENCY_LIMIT_S = 5.0
#: requests of each kind in a run (see README.md for why tiles are few);
#: 40 in all, so that ``op_tail_s`` reaches p75, and an even count of
#: each kind, so that a traced run splits every kind into equal traced
#: and plain halves
COUNTS = {"tile": 2, "tile_auto": 2, "timeseries": 12,
          "statistics_point": 12, "statistics_time": 12}
KINDS = tuple(COUNTS)
SENDERS = nproc()
WARMUP_ROUNDS = 2
DRAIN_S = 30.0


def prepare(args):
    spec = CubeSpec(width=72 if args.tiny else 360,
                    time_periods=2 if args.tiny else 8, seed=args.seed)
    return spec


def _write_cube(spark, spec: CubeSpec) -> str:
    from xcube_spark.cube.new import new_cube
    from xcube_spark.sources.layout import write_cube_layout

    path = WORK / "serve" / f"cube-{spec.width}x{spec.time_periods}-{spec.seed}"
    if not (path / "_SUCCESS").exists():
        grid = spec.grid()
        write_cube_layout(new_cube(spark, grid, spec.spark_vars()),
                          str(path), grid, files_per_partition=4,
                          mode="overwrite")
    return str(path)


# ---- requests ---------------------------------------------------------------

def _zipf_keys(rng, keys: list, n: int, s: float = 1.5) -> list:
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    idx = rng.choice(len(keys), n, p=w / w.sum())
    return [keys[i] for i in idx]


def make_requests(spec: CubeSpec, seed: int, scale: int = 1) -> list[dict]:
    """``COUNTS`` requests of each kind (divided by ``scale``), in seeded
    order with the tiles at evenly spaced slots.  Within each kind a
    seeded half is marked ``traced``, so a traced run's traced and plain
    halves have the same mix."""
    rng = np.random.default_rng([seed, 11])
    counts = [max(2, c // scale) for c in COUNTS.values()]
    n = sum(counts)
    tile_k = [i for i, k in enumerate(KINDS) if k.startswith("tile")]
    tiles = rng.permutation(np.repeat(tile_k, [counts[i] for i in tile_k]))
    rest = rng.permutation(np.repeat(
        [i for i in range(len(KINDS)) if i not in tile_k],
        [counts[i] for i in range(len(KINDS)) if i not in tile_k]))
    # a tile render slows every request that overlaps it; evenly spaced
    # tiles keep how many do from depending on the seed
    slots = {int((j + 0.5) * n / len(tiles)): t for j, t in enumerate(tiles)}
    it = iter(rest)
    picks = [slots[i] if i in slots else next(it) for i in range(n)]
    halves = {k: set(rng.permutation(counts[k])[:counts[k] // 2].tolist())
              for k in range(len(KINDS))}
    seen = dict.fromkeys(range(len(KINDS)), 0)
    traced = []
    for k in picks:
        traced.append(seen[k] in halves[k])
        seen[k] += 1
    # 160 tile keys (two zoom levels, the first two time steps, both
    # variables) under a steep Zipf law, so a run repeats some keys
    tile_keys = [(z, ty, tx, t, v)
                 for z in (1, 2) for ty in range(1 << z)
                 for tx in range(2 << z) for t in range(min(2, spec.time_periods))
                 for v in ("A", "B")]
    tile_keys = [tile_keys[i] for i in rng.permutation(len(tile_keys))]
    tiles = iter(_zipf_keys(rng, tile_keys, n))
    g = spec.grid()
    out = []
    for k, on in zip(picks, traced):
        kind = KINDS[k]
        var = ("A", "B")[int(rng.integers(0, 2))]
        t_i = int(rng.integers(0, spec.time_periods))
        if kind in ("tile", "tile_auto"):
            z, ty, tx, t_i, var = next(tiles)
            params = {"t_i": t_i}
            if kind == "tile":
                lo, hi = spec.value_range(var)
                params.update(vmin=lo, vmax=hi)
            path = f"/tiles/cube/{var}/{z}/{ty}/{tx}"
            key = (kind, z, ty, tx, t_i, var)
        elif kind == "timeseries":
            i1 = int(rng.integers(0, spec.width - 8))
            j1 = int(rng.integers(0, spec.height - 8))
            w = int(rng.integers(2, 8))
            bbox = (g.x_start + i1 * g.x_res, g.y_start + j1 * g.y_res,
                    g.x_start + (i1 + w) * g.x_res,
                    g.y_start + (j1 + w) * g.y_res)
            params = {"bbox": ",".join(repr(v) for v in bbox),
                      "aggMethods": "mean,min,max"}
            path = f"/timeseries/cube/{var}"
            key = (kind, var, i1, j1, w)
        elif kind == "statistics_point":
            i = int(rng.integers(0, spec.width))
            j = int(rng.integers(0, spec.height))
            params = {"lon": repr(g.x_start + (i + 0.5) * g.x_res),
                      "lat": repr(g.y_start + (j + 0.5) * g.y_res)}
            path = f"/statistics/cube/{var}"
            key = (kind, var, i, j)
        else:
            when = T0.replace(tzinfo=None) + timedelta(days=t_i + 0.5)
            params = {"time": when.strftime("%Y-%m-%dT%H:%M:%S")}
            path = f"/statistics/cube/{var}"
            key = (kind, var, t_i)
        out.append({"kind": kind, "url": f"{path}?{urlencode(params)}",
                    "key": key, "traced": on})
    return out


# ---- output checks (numpy from the closed forms) ----------------------------

def _png_rgba(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGBA PNG (all five filter types)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat = 8, b""
    while pos < len(data):
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            w, h, bits, ctype = struct.unpack(">IIBB", body[:10])
            if (bits, ctype) != (8, 6):
                raise ValueError("not RGBA8")
        elif tag == b"IDAT":
            idat += body
        pos += 12 + n
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + 4 * w)
    out = np.zeros((h, 4 * w), np.int32)
    prev = np.zeros(4 * w, np.int32)
    for y in range(h):
        f, line = raw[y, 0], raw[y, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) & 255
        else:
            cur = np.zeros_like(line)
            for i in range(4 * w):
                a = cur[i - 4] if i >= 4 else 0
                c = prev[i - 4] if i >= 4 else 0
                b = prev[i]
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 255
        out[y] = cur
        prev = cur
    return out.reshape(h, w, 4)


def expected_tile(spec: CubeSpec, kind: str, z: int, ty: int, tx: int,
                  t_i: int, var: str) -> np.ndarray:
    """The RGBA tile (z, ty, tx) of the geographic 256-px scheme, in numpy:
    each pixel centre takes the value of the cell it falls in (cells whose
    centre lies outside the tile are not drawn), normalised to the fixed
    range (``tile``) or to mean +- 2 sigma of the drawn pixels
    (``tile_auto``), clamped and coloured with the default colour map;
    undrawn pixels are transparent black."""
    from xcube_spark.operators.tiles import get_colormap

    size = 256
    g = spec.grid()
    # the tiling scheme's arithmetic, in its operation order
    w, h = 360.0 / (2 << z), 180.0 / (1 << z)
    res = 360.0 / ((2 << z) * size)
    x1, y2 = -180.0 + tx * w, 90.0 - ty * h
    x2, y1 = x1 + w, y2 - h
    px = np.arange(size, dtype=np.float64)
    xs = x1 + (px + 0.5) * res
    ys = y2 - (px + 0.5) * res
    x_i = np.floor((xs - g.x_start) / g.x_res).astype(np.int64)
    y_i = np.floor((ys - g.y_start) / g.y_res).astype(np.int64)
    cx = g.x_start + (x_i + 0.5) * g.x_res
    cy = g.y_start + (y_i + 0.5) * g.y_res
    ok_x = (xs >= g.x_start) & (xs < g.x_end) & (cx >= x1) & (cx < x2)
    ok_y = (ys >= g.y_start) & (ys < g.y_end) & (cy >= y1) & (cy < y2)
    drawn = ok_y[:, None] & ok_x[None, :]  # [py, px]
    v = spec.values(var, t_i, y_i[:, None], x_i[None, :])
    if kind == "tile":
        lo, hi = spec.value_range(var)
    else:
        mean, std = v[drawn].mean(), v[drawn].std()
        lo, hi = mean - 2 * std, mean + 2 * std
    norm = np.clip((v - lo) / (hi - lo), 0.0, 1.0)
    out = np.zeros((size, size, 4), np.int32)
    stops = get_colormap("default")
    for c in range(3):
        chan = np.full(norm.shape, float(stops[0][1][c]))
        for (p0, c0), (p1, c1) in zip(stops, stops[1:]):
            seg = c0[c] + (norm - p0) / (p1 - p0) * (c1[c] - c0[c])
            chan = np.where(norm >= p0, seg, chan)
        out[..., c] = np.floor(chan + 0.5)
    out[..., 3] = 255
    out[~drawn] = 0
    return out


def _close(a, b) -> bool:
    return a is not None and math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)


def check(spec: CubeSpec, req: dict, body: bytes) -> bool:
    """Whether a 200 response holds the values numpy computes."""
    try:
        return _check(spec, req, body)
    except (ValueError, KeyError, TypeError, zlib.error, struct.error):
        return False  # a malformed body is a wrong result


def _check(spec: CubeSpec, req: dict, body: bytes) -> bool:
    kind, key = req["kind"], req["key"]
    if kind in ("tile", "tile_auto"):
        rgba = _png_rgba(body)
        want = expected_tile(spec, *key)
        # colours within one step of 255: the stretch of an auto tile is
        # a float sum whose order differs between Spark and numpy
        return (rgba.shape == want.shape
                and (rgba[..., 3] == want[..., 3]).all()
                and int(np.abs(rgba - want).max()) <= 1)
    res = json.loads(body)["result"]
    t = np.arange(spec.time_periods)
    if kind == "timeseries":
        _, var, i1, j1, w = key
        jj, ii = np.meshgrid(np.arange(j1, j1 + w), np.arange(i1, i1 + w),
                             indexing="ij")
        if len(res) != spec.time_periods:
            return False
        for t_i, item in enumerate(res):
            v = spec.values(var, t_i, jj, ii)
            if not (_close(item["mean"], v.mean()) and
                    _close(item["min"], v.min()) and
                    _close(item["max"], v.max())):
                return False
        return True
    if kind == "statistics_point":
        _, var, i, j = key
        v = spec.values(var, t, j, i)
    else:
        _, var, t_i = key
        jj, ii = np.meshgrid(np.arange(spec.height), np.arange(spec.width),
                             indexing="ij")
        v = spec.values(var, t_i, jj, ii)
    return (res["count"] == v.size and _close(res["minimum"], v.min())
            and _close(res["maximum"], v.max())
            and _close(res["mean"], v.mean())
            and _close(res["deviation"], v.std()))


# ---- tracing hooks -------------------------------------------------------------

_OPERATORS = (
    ("xcube_spark.operators.tiles", "compute_rgba_tile",
     "operators.tile_compute"),
    ("xcube_spark.operators.tiles", "compute_rgba_tile_auto",
     "operators.tile_compute"),
    ("xcube_spark.operators.tiles", "render_tile_png", "operators.tile_png"),
    ("xcube_spark.operators.timeseries", "get_time_series",
     "operators.timeseries"),
    ("xcube_spark.operators.statistics", "compute_statistics",
     "operators.statistics"),
)


class _Hooks:
    """Spans around the operators' public functions (looked up by the
    server at call time) and a traced ``handle`` for requests that carry
    an ``X-Bench-Group`` header; other requests run untouched."""

    def __init__(self, spark):
        import importlib

        self.tracer = Tracer()
        self.probe = SparkProbe(spark)
        self.py4j = Py4jCounter(spark)
        self.local = threading.local()
        self.handled: dict[str, dict] = {}
        self.gc0 = self.probe.gc_seconds()
        self._restore = []
        for mod_name, fn_name, span in _OPERATORS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            setattr(mod, fn_name, self._wrap(orig, span))
            self._restore.append((mod, fn_name, orig))

    def _wrap(self, fn, span):
        def traced(*a, **kw):
            if not getattr(self.local, "on", False):
                return fn(*a, **kw)
            with self.tracer.span(span):
                return fn(*a, **kw)
        return traced

    def handle(self, server_handle, path, params, headers):
        group = (headers or {}).get("X-Bench-Group")
        if not group:
            return server_handle(path, params, headers)
        self.local.on = True
        self.probe.set_group(group)
        n0 = self.py4j.thread_count()
        t0 = time.time()
        try:
            with self.tracer.span("server.handle", request=group):
                return server_handle(path, params, headers)
        finally:
            self.handled[group] = {"start": t0, "end": time.time(),
                                   "py4j": self.py4j.thread_count() - n0}
            self.probe.clear_group()
            self.local.on = False

    def close(self):
        for mod, name, orig in self._restore:
            setattr(mod, name, orig)
        self.py4j.close()


# ---- the open loop ---------------------------------------------------------------

def _send(port: int, url: str, headers: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", url, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def open_loop(port: int, schedule: list[dict], traced: bool) -> None:
    """Send every scheduled request at its due time from ``SENDERS``
    threads; a request whose sender is still busy waits, and that wait
    counts in its latency (timed from due).  Fills in sent/done/status."""
    lock = threading.Lock()
    nxt = [0]
    deadline = schedule[-1]["due"] + DRAIN_S if schedule else 0

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(schedule):
                return
            r = schedule[i]
            delay = r["due"] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            if time.perf_counter() > deadline:
                r["status"], r["body"] = 0, b""  # refused: never sent
                continue
            headers = {"X-Bench-Group": r["group"]} if (
                traced and r["traced"]) else {}
            r["sent"] = time.perf_counter()
            try:
                r["status"], r["body"] = _send(port, r["url"], headers)
            except OSError as e:
                r["status"], r["body"] = 0, repr(e).encode()
            r["done"] = time.perf_counter()

    threads = [threading.Thread(target=worker, daemon=True)
               for _ in range(SENDERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run(args, spark, spec: CubeSpec) -> dict:
    from xcube_spark.server import CubeServer
    from xcube_spark.sources.layout import open_cube_layout

    t_gen = time.perf_counter()
    path = _write_cube(spark, spec)
    gen_s = time.perf_counter() - t_gen
    traced = bool(args.trace)
    hooks = _Hooks(spark) if traced else None

    class Server(CubeServer):
        def handle(self, path, params, headers=None):
            if hooks is None:
                return super().handle(path, params, headers)
            return hooks.handle(super().handle, path, params, headers)

    server = Server(spark)
    server.add_dataset("cube", open_cube_layout(spark, path), spec.grid())
    port = server.start()
    try:
        # warmup: WARMUP_ROUNDS of every request kind, sequentially, so
        # that codegen and the JIT have settled before the first due time
        warm = make_requests(spec, args.seed + 10_000)
        for kind in KINDS * WARMUP_ROUNDS:
            r = next(q for q in warm if q["kind"] == kind)
            warm.remove(r)
            _send(port, r["url"], {})

        # a fixed request count, whatever --seconds (see README.md); the
        # window is split evenly in time over the rates
        reqs = make_requests(spec, args.seed, 6 if args.tiny else 1)
        n = len(reqs)
        per_rate = n / sum(RATES)
        counts = [round(per_rate * r) for r in RATES[:-1]]
        counts.append(n - sum(counts))
        t_first = time.perf_counter() + 0.2
        schedule, t, k = [], t_first, 0
        for rate, count in zip(RATES, counts):
            for j in range(count):
                schedule.append(dict(reqs[k], due=t + j / rate, rate=rate,
                                     group=f"serve:{reqs[k]['kind']}:{k}"))
                k += 1
            t += per_rate
        open_loop(port, schedule, traced)
    finally:
        server.stop()
    if args.corrupt_digest:  # self-test: expect the cube of another seed
        spec = CubeSpec(spec.width, spec.time_periods, spec.seed + 1)
    return _results(spec, schedule, t_first, gen_s, hooks)


def _results(spec, schedule, t_first, gen_s, hooks) -> dict:
    attempted = len(schedule)
    failed = wrong = 0
    plain = {"passes": [], "lat": []}
    tr = {"lat": []}
    by_rate: dict[float, list] = {}
    status = {"4xx": 0, "5xx": 0}
    seen, repeats, n_tiles = set(), 0, 0
    for r in schedule:
        if r["kind"].startswith("tile"):
            n_tiles += 1
            addr = r["key"][1:]  # the tile address, whatever the colouring
            repeats += addr in seen
            seen.add(addr)
        if r["status"] == 0:
            failed += 1
            print(f"request {r['url']}: not sent", flush=True)
            continue
        if 400 <= r["status"] < 500:
            status["4xx"] += 1
        elif r["status"] >= 500:
            status["5xx"] += 1
        lat = r["done"] - r["due"]
        (tr if hooks and r["traced"] else plain)["lat"].append(lat)
        by_rate.setdefault(r["rate"], []).append(r)
        if r["status"] != 200:
            failed += 1
            print(f"request {r['url']}: status {r['status']} "
                  f"{r['body'][:300]!r}", flush=True)
        elif not check(spec, r, r["body"]):
            wrong += 1
            print(f"request {r['url']}: WRONG result", flush=True)
    end = max((r["done"] for r in schedule if "done" in r), default=t_first)
    plain["passes"].append(end - t_first)
    completed = len(plain["lat"]) + len(tr["lat"])
    overhead = None
    if hooks is not None and tr["lat"] and plain["lat"]:
        # the traced and plain halves share the window and the mix, so
        # the overhead on a pass is the difference in their summed latency
        overhead = {"pass_s": sum(tr["lat"]) - sum(plain["lat"]),
                    "op_p50_s": float(np.median(tr["lat"])
                                      - np.median(plain["lat"]))}

    report = {"repeat_share": {"value": repeats / max(n_tiles, 1),
                               "unit": "ratio"}}
    max_rate = 0.0
    for rate, rs in sorted(by_rate.items()):
        lats = [r["done"] - r["due"] for r in rs]
        waits = [r["sent"] - r["due"] for r in rs]
        third = max(1, len(waits) // 3)
        growing = (np.mean(waits[-third:]) - np.mean(waits[:third])) > 1.0
        p_tail, _, _ = tail(lats)
        ok = p_tail <= LATENCY_LIMIT_S and not growing and all(
            r["status"] == 200 for r in rs)
        report[f"op_p50_s.rate{rate:g}"] = {
            "value": float(np.median(lats)), "unit": "s"}
        report[f"op_tail_s.rate{rate:g}"] = {"value": p_tail, "unit": "s"}
        if ok:
            max_rate = max(max_rate, rate)
    for kind in KINDS:
        lats = [r["done"] - r["due"] for r in schedule
                if r["kind"] == kind and "done" in r]
        if lats:
            report[f"op_p50_s.{kind}"] = {"value": float(np.median(lats)),
                                          "unit": "s"}
    report["max_rate_ops_per_s"] = {"value": max_rate, "unit": "1/s"}
    report["latency_limit_s"] = {"value": LATENCY_LIMIT_S, "unit": "s"}

    layers = Layers()
    units = 0
    if hooks is not None:
        time.sleep(0.2)  # let the listener bus catch up
        routes = {}
        for r in schedule:
            h = hooks.handled.get(r["group"])
            if not r["traced"] or h is None:
                continue
            units += 1
            st = hooks.probe.group_stats(r["group"])
            layers.add_spark(st)
            layers.add("spark.exec_s", st["busy_s"])
            if st["first_start"] is not None:
                layers.add("spark.plan_s", st["first_start"] - h["start"])
            layers.add("spark.op_wall_s", h["end"] - h["start"])
            layers.add("queries.build_py4j_calls", h["py4j"])
            layers.add("server.http_overhead_s",
                       (r["done"] - r["sent"]) - (h["end"] - h["start"]))
            layers.add("server.wait_s", r["sent"] - r["due"])
            routes.setdefault(r["kind"], []).append(r["group"])
        spans = hooks.tracer.self_times()
        handle_self = {s["request"]: s["self"] for s in spans
                       if s["name"] == "server.handle"}
        for kind, groups in routes.items():
            v = [handle_self[g] for g in groups if g in handle_self]
            layers.fixed[f"server.handle_s.{kind}"] = (
                float(np.mean(v)) if v else 0.0)
        for name in ("operators.tile_compute", "operators.tile_png",
                     "operators.timeseries", "operators.statistics"):
            v = [s["dur"] for s in spans if s["name"] == name]
            layers.fixed[name + "_s"] = float(np.mean(v)) if v else 0.0
        layers.fixed["server.repeat_share"] = report["repeat_share"]["value"]
        layers.fixed["server.status_4xx"] = status["4xx"]
        layers.fixed["server.status_5xx"] = status["5xx"]
        layers.fixed["jvm.gc_s"] = (
            (hooks.probe.gc_seconds() - hooks.gc0) / max(attempted, 1))
        layers.high("jvm.heap_used_mb", hooks.probe.heap_used_mb())
        hooks.close()
    return {"plain": plain, "overhead": overhead, "attempted": attempted,
            "failed": failed, "wrong": wrong, "t_first_op": t_first,
            "input_gen_s": gen_s,
            "ops_per_s": completed / max(end - t_first, 1e-9),
            "layers": layers, "units": units,
            "tracer": hooks.tracer if hooks else None, "report": report}
