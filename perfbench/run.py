#!/usr/bin/env python3
"""Seeded spatial-engine benchmark.

    python3 perfbench/run.py --workload <knn_join|tile_sink|bucketed_reuse> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest [--seed <n>]

Run from the root of a checkout. Builds the engine and the harness from
source (see build.py), then runs one workload in one JVM at local[4] and
prints the metrics; the last stdout line is the JSON result. Scratch data
lives under the build dir and is removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("knn_join", "tile_sink", "bucketed_reuse")
DEADLINE_S = 175  # one run must end within 180 s

# Spark on JDK 17 outside spark-submit needs these (same set as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes, jars = build.ensure()
    base = build.build_dir()
    run_dir = os.path.join(base, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # TieredStopAtLevel=1: the JIT's first tier only, which settles during
    # the warm-up; the full JIT is still compiling when a run ends and
    # settles to a different speed in each run (README, "JIT tier")
    cmd = ["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Xmx3g", "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--seed", str(a.seed), "--dir", run_dir]
    if a.selftest:
        cmd += ["--selftest"] + (["--workload", a.workload] if a.workload else [])
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--trace-out", os.path.join(base, "traces", "%s-seed%d.json" % (a.workload, a.seed))]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(1)))
    try:
        limit = None if a.selftest else max(1.0, DEADLINE_S - (time.monotonic() - t0))
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        stop()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 1
    finally:
        stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if a.selftest:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        print("perfbench: benchmark process exited with %d" % proc.returncode, file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
