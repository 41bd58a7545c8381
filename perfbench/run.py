#!/usr/bin/env python3
"""Run one workload of the delivery-replay benchmark.

    python3 perfbench/run.py --workload coin_daily --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt, which compiles the
engine build one directory up); later runs reuse that build until a source
or build file changes. Each run is one JVM: it prints a detail line and, as
its last line, the result object. Everything it writes stays under
.bench_build/ in the checkout.
"""

import argparse
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
WORKLOADS = ("coin_daily", "lake_daily")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed-size heap under the throughput collector: no heap resizing and no
# concurrent collector threads competing with the four task threads, so
# run-to-run spread and peak RSS do not depend on GC heuristics.
# No hsperfdata file: the JVM would write it outside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the checkout."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = [s for s in subdirs if s != "target"]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it. On timeout, or
    when this runner is terminated, kill the whole group first."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out


def build():
    """Compile with sbt unless launch.txt is newer than every source."""
    stamp = os.path.getmtime(LAUNCH) if os.path.exists(LAUNCH) else -1
    if stamp >= 0 and all(os.path.getmtime(f) <= stamp for f in sources()):
        return
    os.makedirs(BUILD, exist_ok=True)
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(3, f"build failed (sbt exit {code})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"no engine sources next to {HERE}: run from a full checkout")
    build()

    with open(LAUNCH) as f:
        lines = [line for line in f.read().splitlines() if line]
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if not o.startswith(("-Xmx", "-Xms"))]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", *jvm_opts, *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace])
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    if code is None:
        fail(4, f"run exceeded {RUN_TIMEOUT_S} s and was killed")
    if code != 0:
        sys.stderr.write(out or "")
        fail(code, f"run failed (java exit {code})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
