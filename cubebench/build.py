#!/usr/bin/env python3
"""Build file of the cube benchmark.

Compiles the engine's sources (src/main/scala) and then the benchmark's
own (cubebench/src) with the Scala compiler that ships in the Spark
distribution's jars, into .bench_build/cubebench/{program,bench} under the
checkout root. A stamp of each tree's source paths, sizes and mtimes skips
its compile when nothing in it changed.

Usage, from the checkout root:  python3 cubebench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "cubebench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "cubebench", "src")


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution whose
    bin/spark-submit is on PATH; they must include a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    raise SystemExit("cubebench: no Spark distribution with a Scala compiler "
                     "in its jars (set SPARK_HOME)")


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, deps):
    h = hashlib.sha256("|".join(deps).encode())
    for f in files:
        st = os.stat(f)
        h.update(("%s|%d|%d\n" % (os.path.relpath(f, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def compile_tree(name, src, classpath, resources=None, deps=()):
    """Compile `src` against the Spark jars plus `classpath` into BUILD/name,
    unless its stamp is unchanged."""
    out = os.path.join(BUILD, name)
    files = sources(src)
    want = stamp(files, deps)
    stamp_file = out + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return out, want
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print("cubebench: compiling %d %s sources" % (len(files), name), file=sys.stderr)
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] +
        (["-classpath", os.pathsep.join(classpath)] if classpath else []) +
        ["@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit("cubebench: %s compile failed (exit %d)" % (name, rc))
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(want)
    return out, want


def ensure_built():
    """Compile what changed; returns the benchmark's class path entries."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("cubebench: the engine's sources are missing: %s" % PROGRAM_SRC)
    program, pstamp = compile_tree("program", PROGRAM_SRC, [], PROGRAM_RES)
    bench, _ = compile_tree("bench", BENCH_SRC, [program], deps=[pstamp])
    return [bench, program, os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(ensure_built()))
