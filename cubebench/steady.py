#!/usr/bin/env python3
"""Steadiness check: run one workload K times, each in a fresh JVM with its
own seed, and print each metric's median, quartiles and spread
((q3 - q1) / median, the quantity the bounds in BENCHMARK.json are set
against). Each run also records the box's steal and iowait shares over
its wall time, read from /proc/stat, as context only.

  python3 cubebench/steady.py --workload cube_build --runs 10
  python3 cubebench/steady.py --workload cube_ingest --runs 5 --trace 1

Seeds run 1..K; each run measures for the run_seconds of BENCHMARK.json.
The last stdout line is a JSON summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def cpu_times():
    """(steal, iowait, total) jiffies of the aggregate cpu line, if readable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7] if len(v) > 7 else 0, v[4], sum(v[:8])


def share(a, b, i):
    if not a or not b or b[2] == a[2]:
        return float("nan")
    return (b[i] - a[i]) / (b[2] - a[2])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    with open(BENCHMARK) as f:
        seconds = json.load(f)["run_seconds"]

    runs = []
    for seed in range(1, a.runs + 1):
        before, t0 = cpu_times(), time.time()
        p = subprocess.run([sys.executable, RUN, "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        wall, after = time.time() - t0, cpu_times()
        if p.returncode != 0:
            print("seed %d: run failed (exit %d)" % (seed, p.returncode), flush=True)
            runs.append({"seed": seed, "ok": False})
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        run = {"seed": seed, "ok": True, "wall_s": wall, "correct": r["correct"],
               "attempted": r["attempted"], "failed": r["failed"],
               "steal": share(before, after, 0), "iowait": share(before, after, 1),
               "metrics": {n: m["value"] for n, m in r["metrics"].items()}}
        runs.append(run)
        print("seed %d: %.0f s, correct=%s, failed %d/%d, steal %.1f%%, iowait %.1f%%  %s" % (
            seed, wall, r["correct"], r["failed"], r["attempted"],
            100 * run["steal"], 100 * run["iowait"],
            " ".join("%s=%.4g" % kv for kv in sorted(run["metrics"].items()))),
            flush=True)

    ok = [r for r in runs if r["ok"]]
    summary = {}
    for name in sorted({n for r in ok for n in r["metrics"]}):
        vals = [r["metrics"][name] for r in ok if r["metrics"].get(name) is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else float("nan")}
        print("%-34s median %-12.5g q1 %-12.5g q3 %-12.5g spread %.3f" % (
            name, med, q1, q3, summary[name]["spread"]))
    print(json.dumps({"workload": a.workload, "runs": len(runs),
                      "failed_runs": len(runs) - len(ok),
                      "all_correct": all(r["correct"] for r in ok) and len(ok) == len(runs),
                      "failed_share": sorted({r["failed"] / r["attempted"] for r in ok}),
                      "metrics": summary}))


if __name__ == "__main__":
    main()
