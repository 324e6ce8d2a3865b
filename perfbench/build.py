#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library modules it drives
(everything under src/main/scala except the gate queries and the mains
that depend on them) together with perfbench/src into
.bench_build/perfbench/classes, with the Scala compiler that ships in the
Spark distribution. Rebuilds only when a source file or the compiler
command changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
# top-level files of package graft the benchmark needs; the others are
# gate runners that pull in graft.queries
TOP_LEVEL = {"BenchMetrics.scala", "GraftExtensions.scala"}


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark distribution whose
    bin/ directory on PATH has a sibling jars/ directory."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(SCALA_SRC, "graft")):
        raise BuildError(f"no library sources under {SCALA_SRC}")
    out = []
    for path in glob.glob(os.path.join(SCALA_SRC, "**", "*.scala"), recursive=True):
        rel = os.path.relpath(path, SCALA_SRC).replace(os.sep, "/")
        if rel.startswith("graft/queries/"):
            continue
        if rel.count("/") == 1 and rel.startswith("graft/") and rel[6:] not in TOP_LEVEL:
            continue
        out.append(path)
    bench = glob.glob(os.path.join(BENCH_SRC, "*.scala"))
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    return sorted(out) + sorted(bench)


def compile_command(jars, out_dir, args_file):
    return ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
            "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
            "-usejavacp", "-nowarn", "-d", out_dir, "@" + args_file]


def build(quiet=False):
    """Compile if needed; return the classpath entries to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    h.update(" ".join(compile_command(jars, "OUT", "ARGS")).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(jars), digest
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs) + "\n")
    if not quiet:
        print(f"perfbench: compiling {len(srcs)} files", file=sys.stderr)
    r = subprocess.run(compile_command(jars, tmp, args_file), cwd=OUT,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(jars), digest


def classpath(jars):
    cp = [CLASSES]
    if os.path.isdir(RESOURCES):
        cp.append(RESOURCES)
    return cp + [os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(CLASSES)
