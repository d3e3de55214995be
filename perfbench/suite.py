#!/usr/bin/env python3
"""Run every workload once, or run the benchmark's steadiness test.

    python3 perfbench/suite.py --seed 7              # every workload, one seed
    python3 perfbench/suite.py --seed 7 --trace 1    # the same, traced
    python3 perfbench/suite.py --seed 100 --steadiness

Each run is ``perfbench/run.py`` in its own process, with the
``run_seconds`` of BENCHMARK.json. The steadiness test makes two sets
of ten runs of every workload, every run with its own seed, and passes
when, for each end-to-end metric of BENCHMARK.json:

- every set's spread — the distance between the first and third
  quartile (``statistics.quantiles(values, n=4)``) as a share of the
  median — is within the metric's bound;
- the second set's median differs from the first set's, in either
  direction, by no more than the bound (as a share of the first);
- every run checked its outputs correct.

Run from the repository root; the report goes to
``.perfbench/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n"
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def steadiness(spec: dict, seed: int) -> int:
    report, ok = {}, True
    for wi, w in enumerate(x["name"] for x in spec["workloads"]):
        per_set = []
        for s in range(SETS):
            results = []
            for i in range(RUNS):
                run_seed = seed + (wi * SETS + s) * RUNS + i
                r = run_once(spec, w, run_seed)
                print(w, "set", s, "seed", run_seed, "correct", r["correct"],
                      json.dumps({k: round(v["value"], 4)
                                  for k, v in r["metrics"].items()}),
                      flush=True)
                results.append(r)
            per_set.append(results)
        report[w] = {"sets": per_set, "checks": {}}
        for m in spec["end_to_end"]:
            name = m["name"]
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in per_set]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            drift = (meds[1] - meds[0]) / meds[0]
            passed = abs(drift) <= m["bound"] and all(
                x <= m["bound"] for x in spreads)
            ok &= passed
            report[w]["checks"][name] = {
                "medians": meds, "spreads": spreads, "drift": drift,
                "bound": m["bound"], "passed": passed}
            print(f"{w:20s} {name:14s} medians {[round(x, 3) for x in meds]} "
                  f"spreads {[round(x, 3) for x in spreads]} "
                  f"drift {drift:+.3f} bound {m['bound']} "
                  f"{'ok' if passed else 'FAIL'}", flush=True)
        correct = all(r["correct"] for rs in per_set for r in rs)
        ok &= correct
        print(f"{w:20s} every run correct: {correct}", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("steadiness", "PASSED" if ok else "FAILED")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    if args.steadiness:
        return steadiness(spec, args.seed)
    failed = 0
    for w in spec["workloads"]:
        r = run_once(spec, w["name"], args.seed, args.trace)
        failed += r["failed"]
        print(f"== {w['name']}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} error_rate={r['failed'] / r['attempted']:.4f}")
        for k, v in r["metrics"].items():
            print(f"   {k:32s} {v['value']:14.4f} {v['unit']}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
