#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <clip_pipeline|query_suite> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source when they changed (see build.py), then runs one closed-loop
measurement in a single JVM sized to this host: Spark `local[nproc]`,
heap from MemTotal. Prints the run facts and, for `--trace 1`, the full
per-layer table, then as the last line the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exits 0 only if every output check passed. Everything the run writes goes
under `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("clip_pipeline", "query_suite")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """MemTotal / 2 GiB, clamped to [2, 8] GiB, the Tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_sha():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm_command(classes, main, args):
    # per-run scratch: a killed run leaves Spark block dirs behind
    local = os.path.join(build.OUT, "spark-local")
    shutil.rmtree(local, ignore_errors=True)
    shutil.rmtree(os.path.join(build.OUT, "tmp"), ignore_errors=True)
    os.makedirs(local)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return ["java", *opens, f"-Xmx{heap()}", "-XX:+UseParallelGC",
            *build.jvm_tmp(), "-Djava.awt.headless=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties"),
            f"-Dperfbench.localDir={local}", f"-Dperfbench.gitSha={git_sha()}",
            "-cp", cp, main, *args]


def launch(main, args, timeout_s):
    """Build if needed, then run one JVM to completion in its own process
    group; kill the group on timeout or when this process is told to stop.
    The timeout starts after the build. Returns (code, stdout)."""
    proc = subprocess.Popen(jvm_command(build.build(), main, args),
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=build.ROOT)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"run: timed out after {timeout_s} s", file=sys.stderr)
        stop()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    code, out = launch("perfbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace,
                        "--bench-dir", build.BENCH],
                       RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines) + "\n")
        print(f"run: benchmark exited with code {code} and no result", file=sys.stderr)
        sys.exit(code or 2)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
