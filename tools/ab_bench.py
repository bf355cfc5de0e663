#!/usr/bin/env python3
"""Paired A/B timing of the query suite or a cube workload between two checkouts.

Usage: tools/ab_bench.py BASE HEAD [--pairs N] [--only q1,q2,...]
       tools/ab_bench.py BASE HEAD --cube cube_build|cube_ingest [--pairs N]

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
SPARK_GRAFT_BENCH_ONLY.

--cube W runs `python3 cubebench/run.py --workload W --seed K --trace 0`
in each checkout instead, with the same alternation and seed K = the
pair number (1, 2, ...), so both sides of a pair build the same scenes.
For each end-to-end metric of BENCHMARK.json (its direction read from
there) it prints the base and head medians and quartiles, how many pairs
head won, and whether a gain claim holds: head wins at least nine pairs
in ten and the medians differ, in head's favour, by more than the base
quartile distance Q3 - Q1. Standard library only.
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


def cube(checkout, workload, seed):
    """One cubebench run: its {metric: value} map."""
    out = subprocess.run(
        [sys.executable, "cubebench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True,
        text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"cubebench failed in {checkout} (exit {out.returncode}):"
                 f"\n{out.stderr[-3000:]}")
    rec = json.loads(lines[-1])
    if rec["failed"] or not rec["correct"]:
        sys.exit(f"cubebench run in {checkout} failed its oracle: {rec}")
    return {k: v["value"] for k, v in rec["metrics"].items()}


def quartiles(xs):
    """(Q1, median, Q3); all three the median below two samples."""
    if len(xs) < 2:
        med = statistics.median(xs)
        return med, med, med
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def spread(xs):
    """(Q3 - Q1) / median; 0 below two samples."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med > 0 else 0.0


def alternate(pairs, run, summary):
    """{side: [run(side, pair) for each pair]}, base first on even pairs;
    `summary` formats one result for the progress line."""
    runs = {"base": [], "head": []}
    for p in range(pairs):
        order = ["base", "head"] if p % 2 == 0 else ["head", "base"]
        for s in order:
            runs[s].append(run(s, p))
        print(f"pair {p + 1}/{pairs} ({' then '.join(order)}): "
              f"base {summary(runs['base'][-1])}, "
              f"head {summary(runs['head'][-1])}", file=sys.stderr)
    return runs


def cube_report(runs, head):
    """Per end-to-end metric: medians, quartiles, head wins, claim."""
    with open(os.path.join(head, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    print(f"{'metric':<14} {'better':>6} {'base_med':>9} {'base_q1-q3':>17} "
          f"{'head_med':>9} {'head_q1-q3':>17} {'head_wins':>9}  claim")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [r[name] for r in runs["base"]]
        hd = [r[name] for r in runs["head"]]
        bq1, bm, bq3 = quartiles(base)
        hq1, hm, hq3 = quartiles(hd)
        wins = sum((h < b) if lower else (h > b) for b, h in zip(base, hd))
        gain = (bm - hm) if lower else (hm - bm)
        claim = wins * 10 >= 9 * len(base) and gain > bq3 - bq1
        print(f"{name:<14} {m['better']:>6} {bm:>9.3f} "
              f"{bq1:>8.3f}-{bq3:<8.3f} {hm:>9.3f} {hq1:>8.3f}-{hq3:<8.3f} "
              f"{wins:>4}/{len(base):<4}  {'holds' if claim else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--only", help="comma-separated query names")
    ap.add_argument("--cube", choices=("cube_build", "cube_ingest"),
                    help="run this cubebench workload instead of the suite")
    args = ap.parse_args()
    sides = {"base": args.base, "head": args.head}
    if args.cube:
        runs = alternate(args.pairs,
                         lambda s, p: cube(sides[s], args.cube, p + 1),
                         lambda r: " ".join(f"{k} {v:.3f}"
                                            for k, v in sorted(r.items())))
        cube_report(runs, args.head)
        return
    env = dict(os.environ)
    if args.only:
        env["SPARK_GRAFT_BENCH_ONLY"] = args.only
    jvm = {s: classpath_and_options(d) for s, d in sides.items()}
    runs = alternate(args.pairs,
                     lambda s, p: bench(sides[s], *jvm[s], env),
                     lambda r: f"{r[1]:.3f} s")

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
