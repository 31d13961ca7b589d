#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark
program from source into .bench_build/ (once per source state, see
build.sh), then runs one workload in a single JVM and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
ones (see BENCHMARK.json). Exits non-zero, without a result line, if
the sources are missing, the build fails or the run times out; exits
non-zero after printing the result if a correctness check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("station_stream", "lake_backfill", "curate_corpus")
BUILD_ROOT = ".bench_build"
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + ["perfbench/build.sh"]


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile once per source state; the class dir is keyed by a hash
    of every source file, so a stale build is never reused."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t = time.time()
    r = subprocess.run(["bash", "perfbench/build.sh", tmp], stdout=sys.stderr,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"build failed (exit {r.returncode})")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: built {out} in {time.time() - t:.1f}s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sh"):
        fail("run from the repository root: graft sources not found")

    classes = build()
    spark_jars = os.path.join(spark_home(), "jars")
    work = os.path.abspath(os.path.join(BUILD_ROOT, f"run-{os.getpid()}-{int(time.time())}"))
    for sub in ("tmp", "derby"):
        os.makedirs(os.path.join(work, sub))
    # C1 only: JIT warm-up then ends inside set-up instead of C2
    # recompilations landing in the timed window. C1-only shrinks the
    # default code cache to 48 MB, which Spark's generated classes fill
    # after ~40 units; the flush stalls every running job, so it is
    # raised. A fixed young generation keeps peak RSS from following
    # G1's adaptive sizing.
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*,
    # outside the checkout.
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xmn384m", "-Xss4m", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        "-Duser.timezone=UTC",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby/derby.log",
        f"-Dlog4j2.configurationFile={os.path.abspath('perfbench/log4j2.properties')}",
        "-cp", f"{os.path.abspath(classes)}{os.pathsep}{spark_jars}/*",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(len(os.sched_getaffinity(0))),
        "--work", work,
        # setup_s counts from here: JVM start is part of set-up
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(reason)

    # the JVM runs in its own session: take it down with us
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: stop(f"stopped by signal {n}"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"no result line (JVM exit {proc.returncode})")
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
