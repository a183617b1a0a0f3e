"""``batch_cube``: the frozen bench's cube/events/relational rows run as
a closed loop with one client, the order permuted by the seed.

Each operation is ``q.fn(spark, sf_dir)`` followed by ``toArrow()``; the
result's value digest is compared with the DuckDB oracle's digest
(``oracle_digests.json``) outside the timed region."""

from __future__ import annotations

import json
import random
import statistics
import time

import datagen
from common import HERE, WORK, arrow_digest
from tracing import Layers, Py4jCounter, SparkProbe, Tracer

#: the 11 cube/events/relational rows of the frozen ``BENCH_SET``
ROWS = [
    "cube_select_timeseries", "cube_resample_time_2d", "cube_rectify_swath",
    "cube_reproject_utm", "events_rectify_grid", "events_reproject_utm",
    "events_timeseries_daily", "events_ema", "events_cusum_drift",
    "events_asof_value", "q1_pricing_summary",
]

WARMUP_PASSES = 2
#: steady-state pass time on the reference host (4 cores), which sets how
#: many passes a run of ``--seconds`` makes
NOMINAL_PASS_S = 4.5


class ExpectedDigests:
    def __init__(self, sf: float, tables: dict[str, str],
                 corrupt: bool = False):
        with open(HERE / "oracle_digests.json") as f:
            ref = json.load(f)[f"sf{sf}"]
        if ref["tables"] != tables:
            raise SystemExit(
                f"generated sf{sf} tables differ from the ones the oracle "
                f"digests were made from: {tables} != {ref['tables']}")
        self.queries = ref["queries"]
        self.corrupt = corrupt

    def check(self, name: str, table) -> bool:
        rows, sha = arrow_digest(table)
        want = self.queries[name]
        if self.corrupt:  # self-test: an expectation no output can meet
            return rows == want["rows"] and sha == want["sha256"][::-1]
        return rows == want["rows"] and sha == want["sha256"]


def prepare(args):
    """Input generation (not part of set-up time): the tables at sf0.1
    (sf0.001 with ``--tiny``) and their oracle digests."""
    sf = 0.001 if args.tiny else 0.1
    data = str(WORK / "data" / f"sf{sf}")
    tables = datagen.write_tables(data, sf)
    return data, ExpectedDigests(sf, tables, args.corrupt_digest)


def run(args, spark, inputs) -> dict:
    from xcube_spark.queries import load_all

    data, expected = inputs
    registry = load_all()
    order = list(ROWS)
    random.Random(args.seed).shuffle(order)

    def op(name, group=None, tracer=None, py4j=None, probe=None):
        """One timed operation: (latency, arrow table, per-layer record)."""
        q = registry[name]
        spark.catalog.clearCache()
        rec = {}
        if group is None:
            t0 = time.perf_counter()
            table = q.fn(spark, data).toArrow()
            return time.perf_counter() - t0, table, rec
        t0 = time.perf_counter()
        with tracer.span("batch.op", request=group) as s_op:
            probe.set_group(group + ":build")
            n0 = py4j.thread_count()
            with tracer.span("queries.build") as s_build:
                df = q.fn(spark, data)
            rec["py4j"] = py4j.thread_count() - n0
            probe.set_group(group + ":exec")
            with tracer.span("spark.plan") as s_plan:
                df._jdf.queryExecution().executedPlan()
            with tracer.span("arrow.collect"):
                table = df.toArrow()
            rec["returned"] = time.time()
            probe.clear_group()
        lat = time.perf_counter() - t0
        rec.update(group=group, build_s=s_build["end"] - s_build["start"],
                   plan_s=s_plan["end"] - s_plan["start"],
                   op_s=s_op["end"] - s_op["start"],
                   rows=table.num_rows, bytes=table.nbytes)
        return lat, table, rec

    # warmup: two untimed passes; the first compiles (codegen, parquet
    # footers), the second lets the JIT settle (measured: the pass after
    # the cold one is still ~25% slower than the steady state)
    for _ in range(WARMUP_PASSES):
        for name in order:
            op(name)
    return closed_loop(
        args.workload, order, args.seconds, NOMINAL_PASS_S,
        bool(args.trace), spark,
        op, expected.check, _absorb_batch)


def _absorb_batch(layers: Layers, probe: SparkProbe, rec: dict) -> None:
    sb = probe.group_stats(rec["group"] + ":build")
    se = probe.group_stats(rec["group"] + ":exec")
    layers.add("queries.build_s", rec["build_s"])
    layers.add("queries.build_jobs", sb["jobs"])
    layers.add("queries.build_stages", sb["stages"])
    layers.add("queries.build_py4j_calls", rec["py4j"])
    layers.add_spark(sb)
    layers.add_spark(se)
    layers.add("spark.plan_s", rec["plan_s"])
    layers.add("spark.exec_s", se["busy_s"])
    layers.add("spark.op_wall_s", rec["op_s"])
    layers.add("arrow.rows", rec["rows"])
    layers.add("arrow.bytes", rec["bytes"])
    if se["last_end"] is not None:
        layers.add("arrow.tail_s", max(0.0, rec["returned"] - se["last_end"]))


def closed_loop(workload, order, seconds, nominal_pass_s, traced, spark, op,
                check, absorb) -> dict:
    """Whole passes over ``order``: as many as fit in ``seconds`` at the
    workload's nominal pass time on the reference host, at least one.  A
    fixed count (rather than "until the clock runs out") keeps the
    number of latency samples, and so the percentile ``op_tail_s`` can
    report, the same in every run.

    A traced run makes every operation twice, plain and traced back to
    back, and alternates which of the two goes first, so that neither
    gains from the other's warmth.  The traced pass minus the plain pass
    is the run's tracing overhead; per-layer numbers come from the traced
    operations."""
    tracer = Tracer() if traced else None
    py4j = Py4jCounter(spark) if traced else None
    probe = SparkProbe(spark) if traced else None
    layers = Layers()
    plain = {"passes": [], "lat": []}
    tr = {"passes": [], "lat": []}
    attempted = failed = wrong = 0
    seq = 0
    t_start = time.perf_counter()
    n_pass = max(1, round(seconds / nominal_pass_s))
    for k in range(n_pass):
        pass_s = {False: 0.0, True: 0.0}
        recs = []
        for i, name in enumerate(order):
            modes = ((True, False) if (i + k) % 2 else (False, True)) \
                if traced else (False,)
            for on in modes:
                attempted += 1
                seq += 1
                try:
                    if on:
                        gc0 = probe.gc_seconds()
                        lat, table, rec = op(
                            name, group=f"{workload}:{name}:{seq}",
                            tracer=tracer, py4j=py4j, probe=probe)
                        layers.add("jvm.gc_s", probe.gc_seconds() - gc0)
                        layers.high("jvm.heap_used_mb", probe.heap_used_mb())
                        recs.append(rec)
                    else:
                        lat, table, _ = op(name)
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    failed += 1
                    print(f"op {name} failed: {e!r}"[:500], flush=True)
                    continue
                pass_s[on] += lat
                (tr if on else plain)["lat"].append(lat)
                if not check(name, table):
                    wrong += 1
                    print(f"op {name}: WRONG result", flush=True)
        plain["passes"].append(pass_s[False])
        if traced:
            tr["passes"].append(pass_s[True])
            _drain(spark)
            for rec in recs:
                absorb(layers, probe, rec)
    overhead = None
    if traced:
        py4j.close()
        if tr["lat"] and plain["lat"]:
            overhead = {
                "pass_s": statistics.median(tr["passes"])
                - statistics.median(plain["passes"]),
                "op_p50_s": statistics.median(tr["lat"])
                - statistics.median(plain["lat"])}
    return {"plain": plain, "overhead": overhead, "attempted": attempted,
            "failed": failed, "wrong": wrong, "t_first_op": t_start,
            "ops_per_s": len(plain["lat"]) / max(sum(plain["passes"]), 1e-9),
            "layers": layers, "units": len(tr["passes"]), "tracer": tracer}


def _drain(spark, timeout: float = 5.0) -> None:
    """Wait until the listener bus has caught up with the jobs just run."""
    tracker = spark.sparkContext.statusTracker()
    end = time.time() + timeout
    while tracker.getActiveJobsIds() and time.time() < end:
        time.sleep(0.01)
    time.sleep(0.05)
