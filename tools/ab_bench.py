#!/usr/bin/env python3
"""Paired A/B timing of the query suite between two checkouts.

Usage: tools/ab_bench.py BASE HEAD [--pairs N] [--only q1,q2,...]

Compiles both checkouts once with sbt, then runs `graft.Bench` in them
alternately for N pairs: base first on even pairs, head first on odd
ones, so neither side always meets the warmer or the quieter box. Each
run's per-query times (Bench's medians of its timed sweeps) come from
its `queries_part` lines. Prints, per query and for the total: the base
and head medians over the pairs, the head/base ratio, how many pairs
head won (a tie counts for neither) and the base side's quartile spread,
(Q3 - Q1) / median. A `*` marks a ratio farther from 1 than that spread.
A gain is claimed only when head wins at least nine pairs in ten and
the medians differ by more than the base quartile distance.

Bench reads its usual environment (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_DRIVER_MEM, ...), which passes through; --only sets
SPARK_GRAFT_BENCH_ONLY. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def classpath_and_options(checkout):
    """Compile `checkout` and return (classpath, JVM options) of its run."""
    out = subprocess.run(
        ["sbt", "--batch", "-error", "compile",
         "export Runtime/fullClasspath", "print javaOptions"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True,
        text=True)
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    opts = [l[2:] for l in lines if l.startswith("* ")]
    cps = [l for l in lines if not l.startswith(("* ", "["))]
    if out.returncode != 0 or not cps:
        sys.exit(f"sbt failed in {checkout}:\n{out.stdout[-3000:]}"
                 f"{out.stderr[-3000:]}")
    return cps[-1], opts


def bench(checkout, cp, opts, env):
    """One `graft.Bench` run: ({query: seconds}, total seconds)."""
    out = subprocess.run(["java", *opts, "-cp", cp, "graft.Bench"],
                         cwd=checkout, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True)
    times, total = {}, None
    for line in out.stdout.splitlines():
        if not line.startswith("{"):
            continue
        rec = json.loads(line)
        if rec.get("metric") == "queries_part":
            times.update(rec["queries"])
        elif rec.get("metric") == "total_compact" and rec.get("final"):
            total = rec["value"]
    if out.returncode != 0 or total is None:
        sys.exit(f"graft.Bench failed in {checkout} (exit {out.returncode}):"
                 f"\n{out.stderr[-3000:]}")
    return times, total


def spread(xs):
    """(Q3 - Q1) / median; 0 below two samples."""
    if len(xs) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / med if med > 0 else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--only", help="comma-separated query names")
    args = ap.parse_args()
    env = dict(os.environ)
    if args.only:
        env["SPARK_GRAFT_BENCH_ONLY"] = args.only
    sides = {"base": args.base, "head": args.head}
    jvm = {s: classpath_and_options(d) for s, d in sides.items()}
    runs = {"base": [], "head": []}
    for p in range(args.pairs):
        order = ["base", "head"] if p % 2 == 0 else ["head", "base"]
        for s in order:
            runs[s].append(bench(sides[s], *jvm[s], env))
        print(f"pair {p + 1}/{args.pairs} ({' then '.join(order)}): "
              f"base {runs['base'][-1][1]:.3f} s, "
              f"head {runs['head'][-1][1]:.3f} s", file=sys.stderr)

    def row(name, base, head):
        bm, hm = statistics.median(base), statistics.median(head)
        ratio = hm / bm if bm > 0 else float("nan")
        wins = sum(h < b for b, h in zip(base, head))
        sp = spread(base)
        mark = "*" if abs(ratio - 1) > sp else ""
        print(f"{name:<34} {bm:>9.3f} {hm:>9.3f} {ratio:>9.3f}{mark:1} "
              f"{wins:>4}/{len(base):<4} {sp:>9.3f}")

    print(f"{'query':<34} {'base_s':>9} {'head_s':>9} {'head/base':>9}  "
          f"{'head_wins':>9} {'base_sprd':>9}")
    names = sorted(set(runs["base"][0][0]) & set(runs["head"][0][0]))
    for q in names:
        row(q, [t[q] for t, _ in runs["base"]], [t[q] for t, _ in runs["head"]])
    row("TOTAL", [v for _, v in runs["base"]], [v for _, v in runs["head"]])
    for s in sides:
        other = "head" if s == "base" else "base"
        only = sorted(set(runs[s][0][0]) - set(runs[other][0][0]))
        if only:
            print(f"only in {s}: {', '.join(only)}")


if __name__ == "__main__":
    main()
