"""Run one benchmark workload and print its metrics.

Usage, from the checkout root::

    python3 perfbench/run.py --workload batch_cube --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric (from a separate, traced run).  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds the run context
and the metrics that are reported but not bounded (``wrong_results``,
``failed_ratio``, ``max_rate_ops_per_s``, ...).  See README.md."""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402

WORKLOADS = ("batch_cube", "serve", "ingest")

with open(common.HERE.parent / "BENCHMARK.json") as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: tiny inputs and a deliberately wrong expectation
    p.add_argument("--tiny", action="store_true",
                   help="sf0.001 tables and a small cube (self-test)")
    p.add_argument("--corrupt-digest", action="store_true",
                   help="expect a wrong value for every checked output "
                        "(batch digests, serve responses)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    load_start = os.getloadavg()[0]
    common.prepare_env()
    try:
        import xcube_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        return 2

    if args.workload == "batch_cube":
        import batch as mod
    elif args.workload == "serve":
        import serve as mod
    else:
        import ingest as mod

    t_gen = time.perf_counter()
    inputs = mod.prepare(args)
    gen_s = time.perf_counter() - t_gen

    t_sess = time.perf_counter()
    spark = common.start_session()
    session_s = time.perf_counter() - t_sess
    try:
        res = mod.run(args, spark, inputs)
        rss = common.peak_rss_mb(common.jvm_pid(spark))
        ctx = common.run_context(spark, args.seed, load_start)
        cores = spark.sparkContext.defaultParallelism
    finally:
        common.stop_session(spark)
    gen_s += res.get("input_gen_s", 0.0)
    setup_s = res["t_first_op"] - T_PROCESS - gen_s

    lat = res["plain"]["lat"]
    attempted, failed, wrong = res["attempted"], res["failed"], res["wrong"]
    if not lat:
        print(f"all {attempted} operations failed", file=sys.stderr)
        return 1
    tail, pct, n = common.tail(lat)
    report = {
        "wrong_results": {"value": wrong, "unit": "count"},
        "failed_ratio": {"value": failed / max(attempted, 1),
                         "unit": "ratio"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail, "unit": "s"},
        "op_tail_percentile": {"value": pct, "unit": "%"},
        "op_samples": {"value": n, "unit": "count"},
        "input_gen_s": {"value": gen_s, "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    report.update(res.get("report", {}))
    if args.trace:
        metrics = res["layers"].metrics(PER_LAYER, res["units"])
        metrics["session.start_s"] = {"value": session_s, "unit": "s"}
        op_wall = res["layers"].tot.get("spark.op_wall_s", 0.0)
        metrics["spark.slot_busy_ratio"] = {
            "value": (res["layers"].tot.get("spark.task_s", 0.0)
                      / (op_wall * cores) if op_wall else 0.0),
            "unit": "ratio"}
        over = res["overhead"] or {"pass_s": 0.0, "op_p50_s": 0.0}
        metrics["trace.overhead_pass_s"] = {"value": over["pass_s"],
                                            "unit": "s"}
        metrics["trace.overhead_op_p50_s"] = {"value": over["op_p50_s"],
                                              "unit": "s"}
        span_path = common.WORK / f"spans-{args.workload}-{args.seed}.jsonl"
        res["tracer"].write(span_path)
        report["spans_file"] = {"value": str(span_path.relative_to(
            common.ROOT)), "unit": "path"}
        metrics = {k: metrics[k] for k in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(res["plain"]["passes"]),
                       "unit": "s"},
            "ops_per_s": {"value": res["ops_per_s"], "unit": "1/s"},
        }
        metrics = {k: metrics[k] for k in END_TO_END}
    print(json.dumps({"workload": args.workload, "trace": args.trace,
                      "context": ctx, "report": report,
                      "passes_s": res["plain"]["passes"],
                      "op_latencies_s": lat}))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
