#!/usr/bin/env python3
"""Runs one benchmark workload of the reference pipeline and prints its
metrics; the last line of standard output is the result as JSON.

    python3 perfbench/run.py --workload ref10_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark first when they are out of date
(see build.py). Everything the run writes stays under .bench_build/ at the
repository root; the run's table directory is removed at exit. With
--trace 1 the per-layer metrics are printed instead of the end-to-end ones
and the spans are kept in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ref10_serve", "a50_daily")
TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(classpath, work, main, args):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main] + args)


def run_java(cmd, cwd):
    """Runs `cmd` in its own process group, which is killed if this
    process is terminated; returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def terminate(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        raise SystemExit(128 + signum)  # the finally below reaps the group

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"benchmark process timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 1, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classpath = build.build(tests=a.self_test)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    if a.self_test:
        work = build.OUT / "work" / f"selftest-{os.getpid()}"
        main_class, args = "perfbench.SelfTest", ["--work", str(work)]
    else:
        work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
        traces = build.OUT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        main_class = "perfbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(work),
                "--trace-out", str(traces / f"{a.workload}-seed{a.seed}.json")]
    try:
        code, out = run_java(java_cmd(classpath, work, main_class, args), build.ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if code != 0:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        print(f"benchmark process exited with {code}", file=sys.stderr)
        return code
    if a.self_test:
        sys.stdout.write(out)
        return 0
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        print("benchmark process printed no result line", file=sys.stderr)
        return 1
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
