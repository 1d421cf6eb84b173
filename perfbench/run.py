#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from the checkout's sources with sbt (perfbench/build.sbt links
the program's build); later runs reuse the build while the sources are
unchanged. The first run after a build also writes a class-data-sharing
archive of the classes it loaded (-XX:ArchiveClassesAtExit); later runs
start their JVM from it, which takes a few seconds off the JVM and Spark
start-up of each run. The measuring itself is done by the JVM program
perfbench.Main, which writes its result to a file; this script prints the
run's stamp and then, as its last line, one JSON object with the keys
correct, attempted, failed and metrics. Without the program's sources it exits non-zero
before printing any result.

    python3 perfbench/run.py --selftest     runs the benchmark's own tests
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("indexed_search", "ops_mix")
RUN_LIMIT_S = 175  # a run must end within 180 s
FIRST_RUN_LIMIT_S = 890  # the first run of a checkout, which builds, 900 s
BUILD_LIMIT_S = 780
ARCHIVE = os.path.join(TARGET, "launch.jsa")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".fa"))]
    return [f for f in files if os.path.isfile(f)]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile program and benchmark; whether a build ran."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in "
             f"{ROOT}; run from the root of a checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(TARGET, "build.stamp")
    launch = [os.path.join(TARGET, n) for n in ("classpath.txt", "jvm_options.txt")]
    if all(os.path.isfile(f) for f in launch) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return False
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    rc = run_child(cmd, BUILD_LIMIT_S, cwd=HERE, env=sbt_env(),
                   stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})", 3)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return True


def cpu_times():
    """(all, steal) CPU jiffies of the machine so far, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), f[7]
    except (OSError, ValueError, IndexError):
        return None


def heap():
    """JVM heap: a quarter of the machine, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gib = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"-Xmx{gib}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t0 = time.monotonic()

    if a.selftest:
        build()
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                       BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL)
        sys.exit(0 if rc == 0 else 1)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    built = build()
    work = os.path.join(TARGET, "work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(TARGET, "work", f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(TARGET, "jvm_options.txt")) as fh:
        opts = [l for l in fh.read().split("\n") if l]
    # the archive is written once per build; a run without it (if writing
    # it failed) only starts more slowly
    shared = ([f"-XX:ArchiveClassesAtExit={ARCHIVE}"] if built else
              [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else [])
    cmd = (["java", heap(), f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + shared +
           opts + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                   str(a.trace), work, result,
                   # outputs recorded per workload and seed: kept with the sources,
                   # and written by the first run of a seed that has none
                   os.path.join(HERE, "expected"), os.path.join(TARGET, "expected")])
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    cpu0 = cpu_times()
    rc = run_child(cmd, limit, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL)
    if rc is None:
        fail(f"run exceeded its time limit ({limit:.0f} s) and was stopped", 4)
    if rc != 0 or not os.path.isfile(result):
        fail(f"benchmark JVM exited with {rc} and no result", 5)
    with open(result) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    stamp = res["detail"]["stamp"]
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        # on a virtual machine, the share of CPU time the host gave to others
        stamp["steal_frac"] = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
