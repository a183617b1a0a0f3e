"""Run every workload on a range of seeds and summarise each end-to-end
metric as median and quartile spread (the distance between the first and
third quartile over the median), next to the bound in BENCHMARK.json
(none for the latencies of the report line).

Usage, from the checkout root::

    python3 perfbench/baseline.py --out perfbench/baseline/set_a.jsonl --seeds 1-10
    python3 perfbench/baseline.py --summary perfbench/baseline/set_a.jsonl
    python3 perfbench/baseline.py --out perfbench/baseline/traced.jsonl --seeds 1 --trace 1

Each line of the output file is one run: workload, seed, the run's
context line (load averages included) and its result line."""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

from common import HERE, ROOT

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
#: end-to-end metrics of the report line that are summarised but not bounded
REPORTED = [{"name": "op_p50_s", "bound": None},
            {"name": "op_tail_s", "bound": None}]


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_all(out: str, seed_list: list[int], workloads: list[str],
            trace: int) -> None:
    with open(out, "a") as f:
        for w in workloads:
            for s in seed_list:
                cmd = [sys.executable, str(HERE / "run.py"), "--workload", w,
                       "--seed", str(s), "--seconds",
                       str(SPEC["run_seconds"]), "--trace", str(trace)]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                   text=True, timeout=900)
                lines = [ln for ln in p.stdout.splitlines()
                         if ln.startswith("{")]
                rec = {"workload": w, "seed": s, "exit": p.returncode,
                       "info": json.loads(lines[-2]) if len(lines) > 1
                       else None,
                       "result": json.loads(lines[-1]) if lines else None}
                f.write(json.dumps(rec) + "\n")
                f.flush()
                print(w, s, p.returncode, flush=True)


def summary(path: str) -> dict:
    runs: dict[str, list] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["info"] and rec["info"]["trace"]:
                continue  # traced runs carry per-layer metrics
            runs.setdefault(rec["workload"], []).append(rec)
    out = {}
    for w, recs in runs.items():
        row = {"runs": len(recs),
               "all_correct": all(r["result"] and r["result"]["correct"]
                                  for r in recs),
               "load_avg_1m": [r["info"]["context"]["load_avg_1m_start"]
                               for r in recs if r["info"]]}
        for m in SPEC["end_to_end"] + REPORTED:
            vals = [(r["result"]["metrics"] if m["bound"] else
                     r["info"]["report"])[m["name"]]["value"]
                    for r in recs if r["result"]]
            med = statistics.median(vals)
            spread = None
            if len(vals) > 1:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
            row[m["name"]] = {"median": med, "spread": spread,
                              "bound": m["bound"]}
        out[w] = row
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(
        w["name"] for w in SPEC["workloads"]))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--summary")
    a = p.parse_args()
    if a.out:
        run_all(a.out, seeds(a.seeds), a.workloads.split(","), a.trace)
    print(json.dumps(summary(a.summary or a.out), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
