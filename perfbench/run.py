#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline) into the checkout's own
target directories and records the classpath under .bench_build/; later runs
rebuild only when a source file changed. Each run starts one JVM with an
explicit heap (half of physical memory, clamped to 2-8 GiB) on
local[nproc], relays its output, and checks that the last line names exactly
the metrics BENCHMARK.json declares for the mode.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "build.stamp")
JAVA_ARGS = os.path.join(BUILD, "java.args")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Spark on JDK 17 outside spark-submit needs these module openings (the same
# list the library build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: both build definitions and all sources."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile library + benchmark with sbt and record the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Xmx2g",
    ])
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=max(10, deadline - time.time()),
                           start_new_session=True)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout)
        fail(f"build failed (sbt exit {p.returncode})")
    with open(JAVA_ARGS, "w") as f:
        f.write('-cp "%s"\n' % lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(fingerprint())


def heap_gb():
    """A quarter of physical memory, clamped to 2-4 GiB: the benchmark's live
    heap is a few hundred MiB, and the machine may be shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // 4194304))
    except (OSError, StopIteration, ValueError):
        return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, or None without it."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library source next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")

    built = False
    current = fingerprint()
    if not (os.path.isfile(JAVA_ARGS) and os.path.isfile(STAMP)
            and open(STAMP).read() == current):
        build(start + BUILD_LIMIT_S - RUN_LIMIT_S)
        built = True

    work = os.path.join(BUILD, "work")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = cores()
    heap = f"{heap_gb()}g"
    # a fixed heap: G1 shrinks a growable heap after the full collections
    # the live-heap samples trigger, and regrowing it adds noise to timings
    java = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        java += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java += [f"@{JAVA_ARGS}", "graft.perfbench.Main", "--cores", str(n), "--work", work]
    if a.selftest:
        java.append("--selftest")
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]

    limit = (start + BUILD_LIMIT_S if built else start + RUN_LIMIT_S) - time.time()
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(5, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    if a.selftest:
        sys.stdout.write(out)
        return 0

    result = json.loads(lines[-1])
    want = declared_metrics(a.trace == 1)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        got = set(result["metrics"])
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - got)}, "
             f"extra {sorted(got - set(want))}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
