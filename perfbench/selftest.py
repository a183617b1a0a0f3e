"""Self-test of the benchmark on tiny inputs (sf0.001 tables, a small
cube): every workload runs once untraced and once traced, every metric
named in BENCHMARK.json must be printed with its unit, every output must
be correct, and deliberately corrupted expectations (batch digests, the
values of serve's tiles and statistics) must be reported as wrong
results.

Usage, from the checkout root: ``python3 perfbench/selftest.py``
(a few minutes).  Runs every check, then exits non-zero if any failed."""

from __future__ import annotations

import json
import subprocess
import sys

from common import HERE, ROOT

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny",
           *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    for ln in out.stdout.splitlines():
        if ln.startswith("op ") or ln.startswith("request "):
            print("     " + ln)  # the run's own account of a wrong output
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit "
                         f"{out.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


FAILED: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILED.append(what)


def main() -> int:
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            info, res = run(w, trace)
            names = {m["name"]: m["unit"] for m in SPEC[group]}
            got = res["metrics"]
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result keys")
            expect(set(got) == set(names), f"{w} trace={trace}: every "
                   f"{group} metric printed")
            expect(all(got[k]["unit"] == u for k, u in names.items()),
                   f"{w} trace={trace}: units match BENCHMARK.json")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct, nothing failed")
            expect(all(k in info["report"] for k in
                       ("wrong_results", "failed_ratio", "peak_rss_mb",
                        "op_p50_s", "op_tail_s")),
                   f"{w} trace={trace}: wrong_results, failed_ratio and "
                   f"latencies reported")
    for w in ("batch_cube", "serve"):
        info, res = run(w, 0, "--corrupt-digest")
        expect(not res["correct"] and info["report"]["wrong_results"][
            "value"] == res["attempted"], f"{w}: corrupted expectations "
               f"are reported as wrong results")
    if FAILED:
        print(f"self-test FAILED: {len(FAILED)} check(s)")
        return 1
    print("self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
