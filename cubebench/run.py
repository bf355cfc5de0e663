#!/usr/bin/env python3
"""Cube benchmark entry point.

  python3 cubebench/run.py --workload cube_build --seed 1 --seconds 10 --trace 0
  python3 cubebench/run.py --negative-control [--seed 1]

Builds the engine plus the benchmark from source (see build.py), runs one
workload in a fresh JVM with all its files under .bench_build/work in the
checkout, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Any failure exits
non-zero without printing a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cube_build", "cube_ingest")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--negative-control", action="store_true")
    a = ap.parse_args()
    if not a.negative_control and not a.workload:
        ap.error("--workload is required")

    classpath = build.ensure_built()
    workload = "negative_control" if a.negative_control else a.workload
    work = os.path.join(build.ROOT, ".bench_build", "work",
                        "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    # Spark prefers this over spark.local.dir; keep its scratch in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(
                build.ROOT, "cubebench", "log4j2.properties")] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classpath),
            "cubebench.Main", "--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    # a run is its set-up, cold build and warm-ups (under 150 s) plus the
    # measured phase, which takes the run length and at most one more op
    timeout_s = 150 + 2 * a.seconds
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env,
                            start_new_session=True, text=True)

    def interrupted(signum, _frame):
        raise KeyboardInterrupt(signum)
    signal.signal(signal.SIGTERM, interrupted)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print("cubebench: run exceeded %d s" % timeout_s, file=sys.stderr)
        return 3
    except KeyboardInterrupt:
        return 130
    finally:
        # the JVM runs in its own session: stop it and wait, whatever ended us
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.negative_control:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        print("cubebench: run failed (exit %d)" % proc.returncode, file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        print("cubebench: malformed result line", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
