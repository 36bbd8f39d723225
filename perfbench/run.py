"""Runs one benchmark workload and prints its JSON result last.

    python3 perfbench/run.py --workload cooc --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark first (see build.py), then runs
the benchmark in one JVM with Spark `local[<cores>]`. Everything it
writes stays under `.bench_build/perfbench` in the checkout; the
per-run scratch directory is removed at the end. A traced run
(`--trace 1`) leaves its spans in
`.bench_build/perfbench/spans-<workload>-<seed>.jsonl`.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("cooc", "planted_frac")
# The JVM flags that spark-submit would add on JDK 17.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build: {e}")

    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed heap: one that grows during the run makes garbage
    # collection, and so the timings, differ from run to run.
    # -XX:-UsePerfData keeps the JVM from writing under /tmp.
    cmd = (["java", "-Xms4g", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           [f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "w"),
            "--spans", os.path.join(build.OUT, f"spans-{a.workload}-{a.seed}.jsonl")])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    # A SIGTERM to this script stops the JVM too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = 124
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
