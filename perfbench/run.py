#!/usr/bin/env python3
"""OpenAPC serving + pipelines benchmark.

    python3 perfbench/run.py --workload <dashboard|adhoc|rebuild|pipelines> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (see build.py), runs one workload in a fresh JVM, and prints one
JSON result object as the last line of stdout. Everything it writes stays
under `.bench_build/` in the repository root.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dashboard", "adhoc", "rebuild", "pipelines")
# a run must end within 180 s; leave room for JVM shutdown
RUN_TIMEOUT_S = 170

# what `sbt run` passes to the served instance (build.sbt javaOptions)
JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-expected", action="store_true",
                    help="pipelines: rewrite data/pipelines_expected.json")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()

    out = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Spark's block-manager and shuffle files stay inside the checkout
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java"]
    for p in JDK17_ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")]),
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
        "--data", os.path.join(HERE, "data", "sf0.01"),
    ]
    if a.record_expected:
        cmd += ["--record-expected", "1"]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith('{"correct":'):
        sys.stdout.write(stdout)
        print(f"perfbench: {a.workload} exited with {proc.returncode} "
              "and no result", file=sys.stderr)
        return 4
    # the report line goes to stderr so stdout carries only the result
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
