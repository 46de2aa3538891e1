"""The run record written with every result: host, versions, resolved
master and conf, and a host speed probe.

``host.scan_rows_per_s`` reads and sums an int64 parquet column with
pyarrow and numpy, outside the package, before and after each run. It
shows how fast the host was; it never normalizes a metric.
"""

from __future__ import annotations

import os
import platform
import re
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROBE_ROWS = 4_000_000


def resolved_cores(master: str) -> int:
    """Cores the session actually runs on, parsed from the master URL
    (``local[4]``, ``local[*]``, ``local-cluster[2,1,1024]``)."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m:
        n = m.group(1)
        return os.cpu_count() if n in (None, "*") else int(n)
    m = re.fullmatch(r"local-cluster\[(\d+),\s*(\d+),\s*\d+\]", master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    raise ValueError(f"cannot resolve cores from master {master!r}")


def scan_probe(cache_dir: str) -> float:
    """Rows per second of a pyarrow scan + numpy sum of an int64 column."""
    path = os.path.join(cache_dir, "host_probe.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        col = np.random.default_rng(0).integers(0, 1 << 40, PROBE_ROWS)
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(pa.table({"v": col}), tmp)
        os.replace(tmp, path)
    t = time.perf_counter()
    total = int(pq.read_table(path, columns=["v"]).column(0).to_numpy().sum())
    dt = time.perf_counter() - t
    if total <= 0:
        raise RuntimeError("host probe read no rows")
    return PROBE_ROWS / dt


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid() -> int:
    """Pid of the driver JVM: the child of this process whose command is
    java (spark-submit execs into it)."""
    children = f"/proc/{os.getpid()}/task/{os.getpid()}/children"
    with open(children) as f:
        pids = [int(p) for p in f.read().split()]
    for pid in pids:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return pid
    raise RuntimeError("driver JVM not found among child processes")


def git_commit(root: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None  # checkouts without .git


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def run_record(spark, root: str) -> dict:
    sc = spark.sparkContext
    import duckdb
    import pyspark

    return {
        "master": sc.master,
        "cores": resolved_cores(sc.master),
        "host_cpus": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "versions": {
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        "git_commit": git_commit(root),
        "conf": dict(sorted(sc.getConf().getAll())),
        "argv": sys.argv[1:],
    }
