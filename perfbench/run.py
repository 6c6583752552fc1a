#!/usr/bin/env python3
"""Benchmark command: builds the engine from source, runs one workload in a
fresh JVM on Spark local[min(nproc, 4)], and prints the result JSON as the
last stdout line.

Usage: python3 perfbench/run.py --workload <import|curation>
           --seed <n> --seconds <s> --trace <0|1>

Each run gets a private directory under .bench_build/runs (java.io.tmpdir,
Spark scratch, sinks, Derby log), removed when the run ends. Traced runs
leave their span and per-op layer files in .bench_build/traces.
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

WORKLOADS = ("import", "curation")
RUN_TIMEOUT_S = 170

# what spark-submit passes on JDK 17 (same list as build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb() -> int:
    """SPARK_DRIVER_MEM (in g), else half of physical memory clamped to
    2..8 GiB (the rule the repo's test command uses to set it)."""
    env = os.environ.get("SPARK_DRIVER_MEM", "")
    if env[:-1].isdigit() and env[-1:].lower() == "g":
        return int(env[:-1])
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def stop(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the JVM cleanup below


def main() -> int:
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    root = build.ROOT
    try:
        declared = json.loads((root / "BENCHMARK.json").read_text())
        cp = build.classpath()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    want = {m["name"] for m in declared["per_layer" if a.trace == "1" else "end_to_end"]}

    run_dir = build.BUILD_DIR / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    heap = heap_gb()
    # a fixed initial heap of up to 4g spares the runs the early heap-growth
    # collections that made pass times vary by ~20% between runs
    cmd = (["java", f"-Xms{min(heap, 4)}g", f"-Xmx{heap}g", "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
              f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--root", str(root), "--run-dir", str(run_dir)])
    # Spark would put its scratch space there instead of the run directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = (set(result) == {"correct", "attempted", "failed", "metrics"}
              and set(result["metrics"]) == want)
    except (ValueError, IndexError, TypeError):
        ok = False
    if proc.returncode != 0 or not ok:
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
