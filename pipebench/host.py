"""Host fitting, run stamping and process-tree accounting.

Everything here is stdlib-only and must run before Spark is imported:
``fit_host`` sets the environment the program's session factory reads
at import time.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time

RSS_INTERVAL_S = 0.25    # peak-RSS sampling period


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def fit_host(root: str, work: str) -> dict:
    """Pin the program to this host: cores from CPU affinity, a driver
    heap well under physical RAM (the session default is 48g), and every
    scratch directory the JVM or Python may touch inside ``work``.
    Returns the Spark conf the workloads pass to ``get_spark``."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, physical_ram_bytes() // (5 << 30)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import the program by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    if root not in sys.path:
        sys.path.insert(0, root)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _version(cmd: list[str]) -> str | None:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    text = (out.stdout + out.stderr).strip().splitlines()
    return text[0] if text else None


def source_revision(root: str) -> str | None:
    """git HEAD, or None when the checkout is not a git tree."""
    if shutil.which("git") and os.path.isdir(os.path.join(root, ".git")):
        return _version(["git", "-C", root, "rev-parse", "HEAD"])
    return None


def stamp(root: str) -> dict:
    """Host and build identity recorded with every result."""
    import pyspark

    from bench import _calibrate_ms  # the headline harness's host probe

    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(physical_ram_bytes() / (1 << 30), 1),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "calib_ms": _calibrate_ms(),
        "python": platform.python_version(),
        "java": _version(["java", "-version"]),
        "pyspark": pyspark.__version__,
        "revision": source_revision(root),
    }


# ------------------------------------------------------- process tree

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree() -> list[int]:
    """This process and every live descendant (driver JVM, Python
    daemon and workers)."""
    todo, seen = [os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including children
    each process has already reaped."""
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of the process tree, sampled on a daemon
    thread (one /proc walk every ``RSS_INTERVAL_S``)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


def stop_spark() -> None:
    """Stop the active session if any, shut the py4j gateway and wait for
    the JVM (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
