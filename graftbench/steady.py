#!/usr/bin/env python3
"""Steadiness check: run one workload K times per set and report, for every
end-to-end metric, the median, the quartiles and the spread (q3 - q1) / median
against the bound in BENCHMARK.json. With --sets 2 it also reports how far
the second set's median moved from the first's, which must stay within the
bound for two sets of runs of the same code to agree.

    python3 graftbench/steady.py --workload pipeline --runs 10 --sets 2

Run from the root of a checkout. Set j uses seeds 1 + j*K .. K + j*K.
Each run's result line and its harness log (set-up, pass and per-operation
times) are appended to --log (JSON lines) when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed: workload={workload} seed={seed} rc={p.returncode}")
    log = [l for l in p.stderr.splitlines() if l.startswith("[graftbench]")]
    return json.loads(lines[-1]), time.monotonic() - t0, log


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--log")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    sets = []
    walls = []
    for j in range(a.sets):
        results = []
        for i in range(a.runs):
            seed = 1 + j * a.runs + i
            r, wall, log = run_once(a.workload, seed, bench["run_seconds"])
            results.append(r)
            walls.append(wall)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps({"workload": a.workload, "set": j, "seed": seed, "wall_s": wall,
                                         "result": r, "log": log}) + "\n")
            print(f"set {j} seed {seed}: wall={wall:.1f}s correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        sets.append(results)

    print(f"\n{a.workload}: {a.runs} runs x {a.sets} sets")
    ok = True
    for name in sets[0][0]["metrics"]:
        bound = bounds.get(name)
        meds = []
        for j, results in enumerate(sets):
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in results])
            meds.append(med)
            verdict = ""
            if bound is not None:
                verdict = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "TOO NOISY")
                ok &= spread <= bound
            print(f"  set {j} {name:18s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {spread:.3f}  bound {bound}  {verdict}")
        for j in range(1, len(meds)):
            drift = (meds[j] - meds[0]) / meds[0]
            agree = bound is None or abs(drift) <= bound
            ok &= agree
            print(f"  set {j} vs set 0 {name:18s} median moved {drift:+.3f}  {'agree' if agree else 'DISAGREE'}")
    failed = sum(r["failed"] for results in sets for r in results)
    correct = all(r["correct"] for results in sets for r in results)
    print(f"  all correct: {correct}, failed operations: {failed}")
    print(f"  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    sys.exit(0 if ok and correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
