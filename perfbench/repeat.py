#!/usr/bin/env python3
"""Run a workload N times, one seed each, and summarise every metric.

    python3 perfbench/repeat.py --workload W [--workload W2 ...] --runs N [--out FILE]

Run i uses seed i (1..N) and the run length BENCHMARK.json gives; every
run is untraced.

For each workload and metric it reports the median, the first and third
quartiles (statistics.quantiles(values, n=4)) and the spread, the
quartile distance as a share of the median, next to the metric's bound
from BENCHMARK.json. It also reports each run's failed share of attempted
operations. The summary is printed and, with --out, written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in a.workload:
        runs = []
        for i in range(a.runs):
            seed = i + 1
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.exit(f"repeat: {w} seed {seed} failed (exit {proc.returncode})")
            r = json.loads(lines[-1])
            r["seed"], r["wall_s"] = seed, round(time.time() - t0, 1)
            runs.append(r)
            print(f"{w} seed {seed}: {r['wall_s']} s, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), file=sys.stderr, flush=True)
        metrics = {k: summarise([r["metrics"][k]["value"] for r in runs]) for k in runs[0]["metrics"]}
        for k, m in metrics.items():
            m["bound"] = bounds.get(k)
        summary[w] = {
            "runs": len(runs), "seeds": [r["seed"] for r in runs],
            "run_wall_s": [r["wall_s"] for r in runs],
            "failed_share": [r["failed"] / r["attempted"] for r in runs],
            "all_correct": all(r["correct"] for r in runs),
            "metrics": metrics}
        for k, m in metrics.items():
            bound = "" if m["bound"] is None else f"  bound {m['bound']}"
            spread = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"{w:18s} {k:24s} median {m['median']:.4f}  q1 {m['q1']:.4f}  q3 {m['q3']:.4f}  "
                  f"spread {spread}{bound}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
