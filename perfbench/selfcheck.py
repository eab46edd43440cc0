#!/usr/bin/env python3
"""Self-check of the benchmark's comparison: it must be able to fail.

    python3 perfbench/selfcheck.py

1. The workloads and metrics in BENCHMARK.json match run.py's.
2. A sleep planted in the benchmark's own processor callback on
   nibbler_push is reported as worse on ops_per_s and latency_p50_ms, by
   more than each metric's bound.
3. A reference row count planted off by one on ops_breadth raises `failed`
   and clears `correct`.

Exits 1 when any check does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SEED = 7
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SECONDS = json.load(f)["run_seconds"]
PLANTED_SLEEP_MS = 300


def bench(workload, *extra, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"selfcheck: {' '.join(cmd)} exited {r.returncode}\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def worse(metric, base, new):
    """The regression rule: worse when past the metric's bound in its bad direction."""
    v0, v1 = base["metrics"][metric["name"]]["value"], new["metrics"][metric["name"]]["value"]
    if metric["better"] == "higher":
        return v1 < v0 * (1 - metric["bound"])
    return v1 > v0 * (1 + metric["bound"])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    if [w["name"] for w in spec["workloads"]] != list(run.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from run.py")
    if [(m["name"], m["unit"]) for m in spec["end_to_end"]] != run.END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from run.py")
    if [(m["name"], m["unit"]) for m in spec["per_layer"]] != run.PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from run.py")

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    base = bench("nibbler_push")
    slow = bench("nibbler_push", "--plant-sleep-ms", str(PLANTED_SLEEP_MS))
    for name in ("ops_per_s", "latency_p50_ms"):
        v0 = base["metrics"][name]["value"]
        v1 = slow["metrics"][name]["value"]
        ok = worse(e2e[name], base, slow)
        print(f"planted slowdown: {name} {v0:.4g} -> {v1:.4g}: "
              f"{'reported worse' if ok else 'NOT reported worse'}")
        if not ok:
            problems.append(f"planted slowdown not reported worse on {name}")
    if not (base["correct"] and slow["correct"]):
        problems.append("nibbler_push runs were not correct")

    wrong = bench("ops_breadth", "--plant-wrong-reference")
    print(f"planted wrong reference: correct={wrong['correct']} "
          f"failed={wrong['failed']} of {wrong['attempted']}")
    if wrong["correct"] or wrong["failed"] == 0:
        problems.append("planted wrong reference row count did not raise failed")

    for p in problems:
        print("selfcheck FAIL: " + p)
    print("selfcheck: " + ("FAIL" if problems else "PASS"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
