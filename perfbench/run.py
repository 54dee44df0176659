#!/usr/bin/env python3
"""Run one seeded benchmark workload against the engine.

    python3 perfbench/run.py --workload ingest|search \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py), then runs the workload in one JVM
with `local[nproc]`. Standard output ends with one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics untraced, the
per-layer metrics with `--trace 1`. The lines before it name every metric
with its unit. Exits non-zero on a wrong answer or when no result was
produced. The JVM's log and the traced run's spans go to
`.bench_build/perfbench/out/`; generated corpora and indexes are removed
at exit.
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

WORKLOADS = ("ingest", "search")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the repository's build).
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
    """Half of physical memory, clamped to 2..8 GB — the sizing the
    repository's test run uses for SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user … steal), or None."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:9]
        return [int(x) for x in fields] if len(fields) == 8 else None
    except OSError:
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    try:
        classes = build.build()
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    out = os.path.join(build.OUT, "out")
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-XX:+UseParallelGC", "-Xss4m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out]
    log_path = os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cpu0 = cpu_times()
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            print(f"timed out after {RUN_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
            return 3
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"no result (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines[:-1]))
    print(f"# wall_s {time.monotonic() - t0:.1f}")
    cpu1 = cpu_times()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        # time the hypervisor gave this machine's CPUs to others: the
        # outside load that makes figures spread
        print(f"# host_cpu_steal_frac {(cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0)):.4f}")
    print(lines[-1])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
