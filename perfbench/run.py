#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs the
workload in a fresh JVM on local[<all cores>], and prints two lines: the run's
provenance and details, then the result object
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). Every
file the run writes stays under .bench_build/ in the checkout; the run's
scratch directory is removed at exit. The full result, the JVM log and, for
traced runs, the spans are kept in .bench_build/results/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD_DIR, "results")
# The heap is fixed and touched at start, so the peak resident set minus
# the heap is exactly the peak outside the heap; peak_rss_mb adds to that
# the peak live heap (perfbench/src/Main.scala). Left untouched, the pages
# G1 happens to touch move the resident set by a quarter between runs.
HEAP = "2g"
# seed kept out of tuning, for confirming later claims (see perfbench/METRICS.md)
HELDOUT_SEED = 424242
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_jiffies():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), (v[7] if len(v) > 7 else 0)
    except (OSError, ValueError):
        return 0, 0


def remove_stale_work_dirs():
    for d in glob.glob(os.path.join(BUILD_DIR, "work-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def jvm_command(classpath, work, args, out):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC"]
            + opens + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
                       "--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--work", work, "--out", out])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail(f"missing {spec_path}", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    try:
        classpath, source_digest = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    os.makedirs(RESULTS, exist_ok=True)
    remove_stale_work_dirs()
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(RESULTS, name + ".json")
    log_path = os.path.join(RESULTS, name + ".log")
    if os.path.exists(out):
        os.remove(out)
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            j0 = cpu_jiffies()
            # two malloc arenas keep the JVM's native footprint, and so
            # peak_rss_mb, from depending on which threads ran where
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                       MALLOC_ARENA_MAX="2")
            proc = subprocess.Popen(jvm_command(classpath, work, args, out),
                                    cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"timed out after {JVM_TIMEOUT_S} s; log in {log_path}")
            wall = time.time() - t0
            j1 = cpu_jiffies()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {code}; log in {log_path}")

    with open(out) as f:
        res = json.load(f)
    metrics = {}
    for m in wanted:
        # a layer the workload does not exercise reads 0
        if m["name"] not in res["metrics"] and not args.trace:
            fail(f"the run did not report {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
    prov = dict(res["provenance"])
    prov.update({
        "nproc": os.cpu_count(), "heap": HEAP,
        "git_head": git_head(), "source_digest": source_digest,
        "heldout_seed": HELDOUT_SEED, "jvm_wall_s": round(wall, 3),
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": round((j1[1] - j0[1]) / max(1, j1[0] - j0[0]), 4),
    })
    res["provenance"] = prov
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"provenance": prov, "details": res["details"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
