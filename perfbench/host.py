"""Size the run from the host before Spark or NumPy is imported.

Everything here reads only the standard library, because the thread
counts NumPy/OpenBLAS pick and the heap the driver JVM gets are fixed at
import and launch time.
"""

from __future__ import annotations

import os
import subprocess
import sys

# share of host memory the driver JVM heap may take, and its clamp: the
# JVM, four Python workers and the benchmark process share the box
HEAP_SHARE = 0.2
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 3072


def cores() -> int:
    return len(os.sched_getaffinity(0))


def memory_mb() -> int:
    """Usable memory: the smaller of MemTotal and the cgroup limit."""
    total = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) // 1024
                break
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = int(raw) // (1 << 20)
            if total is None or limit < total:
                total = limit
    if total is None:
        raise RuntimeError("cannot read host memory from /proc/meminfo")
    return total


def heap_mb(mem_mb: int) -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(mem_mb * HEAP_SHARE)))


def configure(repo_root: str, work_dir: str) -> dict:
    """Set the process environment for a sized run and return the sizing.

    Must run before ``pyspark`` or ``numpy`` is imported: the env vars
    here are read at import (BLAS threads) or at JVM launch (heap,
    local dirs, worker PYTHONPATH)."""
    n = cores()
    mem = memory_mb()
    heap = heap_mb(mem)
    local_dirs = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dirs, tmp_dir):
        os.makedirs(d, exist_ok=True)
    # launch-time Spark defaults: no console progress bar on stderr
    conf_dir = os.path.join(work_dir, "spark-conf")
    os.makedirs(conf_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_EXEC_MODE": "threads",
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_CONF_DIR": conf_dir,
        # Python's temp files (the gateway's connection file among them)
        "TMPDIR": tmp_dir,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # Python workers are forked by the JVM from a fresh interpreter;
        # without the repo on their path they fail to import the package
        # whenever the benchmark runs from another working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    return {"cores": n, "mem_mb": mem, "heap_mb": heap}


def stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it.  The
    gateway exits when its stdin closes (PythonGatewayServer)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
