"""Process hygiene and host readings for one benchmark run.

All scratch state (Spark local dirs, the JVM and Python temp dirs,
incremental tables) lives under one fresh directory inside the checkout,
removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> str:
    """Point every temp/worker setting at a fresh dir under the checkout;
    returns that dir. Must run before pyspark launches its JVM."""
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(tmp, "local"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the Python workers import rkmh_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return tmp


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",  # keep stdout parseable
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def burn(seconds: float = 0.5) -> float:
    """Spark-free numpy yardstick (the bench_scaling.py burn loop, one
    process): iterations per second of delivered single-core compute."""
    a = np.random.default_rng(0).integers(0, 2**62, size=500_000, dtype=np.uint64)
    x = np.uint64(0x9E3779B97F4A7C15)
    t0 = time.perf_counter()
    it = 0
    while time.perf_counter() - t0 < seconds:
        a = a * x + np.uint64(1)
        it += 1
    return it / (time.perf_counter() - t0)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs, since boot (the ``steal`` column of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            ticks = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0.0
    return ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(tmp: str) -> None:
    """Stop the active Spark session, end the JVM and its Python workers,
    wait for each, and delete the run directory."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        tree = process_tree(gateway.proc.pid)
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        for p in tree:
            while _alive(p):
                if time.time() > deadline:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)
    shutil.rmtree(tmp, ignore_errors=True)


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
