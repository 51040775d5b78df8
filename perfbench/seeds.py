#!/usr/bin/env python3
"""Run one workload over a range of seeds and summarize each metric.

Usage, from the repository root:
    python3 perfbench/seeds.py --workload ask --seeds 101-110 [--trace 0] \
        [--out perfbench/baseline.json]

For every metric of the result lines it prints the median, the quartiles
(statistics.quantiles, n=4) and the spread: the distance between the
quartiles as a share of the median. With --out, the summary is merged into
that JSON file under the workload's name.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seed_list(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    runs = []
    for seed in seed_list(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        host = next((json.loads(l[5:]) for l in lines if l.startswith("host ")), {})
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        runs.append({"seed": seed, "exit": p.returncode, "host": host, "result": result})
        ok = result is not None and result["correct"] and p.returncode == 0
        print(f"seed {seed}: exit {p.returncode}{'' if ok else '  FAILED'}", flush=True)

    summary = {}
    good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    for name in (good[0]["metrics"] if good else {}):
        vals = [g["metrics"][name]["value"] for g in good]
        unit = good[0]["metrics"][name]["unit"]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"unit": unit, "median": med, "q1": q1, "q3": q3, "spread": spread}
        print(f"{name:34s} {unit:6s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}"
              f"  spread {spread:.3f}")

    if a.out:
        doc = {}
        if os.path.exists(a.out):
            with open(a.out) as fh:
                doc = json.load(fh)
        doc[a.workload] = {"seeds": a.seeds, "seconds": seconds, "trace": a.trace,
                           "summary": summary, "runs": runs}
        with open(a.out, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
    sys.exit(0 if len(good) == len(runs) else 1)


if __name__ == "__main__":
    main()
