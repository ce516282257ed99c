#!/usr/bin/env python3
"""Run the benchmark once per seed on one workload and print, for each
metric, its median and its spread: the distance between the first and
third quartiles as a share of the median.

    python3 perfbench/spread.py --workload deals_load --seeds 1-10 [--seconds 8] [--trace 0]

Run it from the root of a checkout. Raw results go to stdout as JSON lines
after the summary table.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    if a.seconds is None:
        with open("BENCHMARK.json") as fh:
            a.seconds = str(json.load(fh)["run_seconds"])
    results = []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        results.append(res)
        print(f"seed {s}: {time.monotonic() - t0:.1f}s wall, correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            if a.trace == "0"), file=sys.stderr)
    if len(results) < 2:
        sys.exit("fewer than two successful runs")
    print(f"{'metric':40s} {'median':>12s} {'spread':>8s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:40s} {med:12.4f} {spread:8.3f}")
    for r in results:
        print(json.dumps(r))


if __name__ == "__main__":
    main()
