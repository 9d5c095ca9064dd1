"""Benchmark command.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 4 --trace 0

Run from the repository root.  Workloads are defined in
``perfbench/workloads.py``.  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics; the last stdout line is the JSON
result.  The exit code is nonzero when any output differs from its DuckDB
oracle or an op fails.

This launcher fits the engine to the host from outside it (cores, driver
heap, ``PYTHONPATH``, temporary directories inside the checkout), runs
``driver.py`` in its own process group, and afterwards stops every process
left in that group (JVM, Python workers) and waits until they are gone.
Self-test hooks: ``--tiny`` runs on scale factor 0.001 and
``--corrupt-oracle KEY`` replaces KEY's expected hash.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end well within 180 s
MAX_DRIVER_MB = 2048


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def _host_env(run_dir: str) -> dict:
    env = dict(os.environ)
    # one usable core is left to the driver thread, the JIT compiler and
    # GC: with a task thread on every core they queue behind the tasks
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    env["SPARK_GRAFT_CPUS"] = str(min(int(env.get("SPARK_GRAFT_CPUS", cores)), cores))
    # a quarter of what is free, capped: the JVM heap must fit beside
    # the Python workers and whatever else shares the machine
    env["SPARK_DRIVER_MEMORY"] = f"{max(1024, min(MAX_DRIVER_MB, mem_available_mb() // 4))}m"
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["PERFBENCH_RUN_DIR"] = run_dir
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill every process of the driver's group and wait until none is left.

    SIGKILL, not SIGTERM: Spark's shutdown hooks would only clean up the
    run directory, which is deleted afterwards anyway.  The driver is reaped
    first; a zombie would keep the group alive."""
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + 10
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.02)
    if _group_alive(proc.pid):
        print(f"perfbench: processes of group {proc.pid} outlived SIGKILL", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-oracle", default=None)
    args, _ = ap.parse_known_args()

    if not os.path.isfile(os.path.join(ROOT, "usw_big_data_analysis_spark", "registry.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", "tmp", f"run-{os.getpid()}")
    for d in ("tmp", "local", "sink"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # on SIGTERM, unwind through the finally below so the group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "driver.py")] + sys.argv[1:],
        cwd=ROOT, env=_host_env(run_dir), start_new_session=True,
    )
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
        code = 3
    finally:
        _stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
