"""Host sizing, the benchmark's Spark session, and run provenance.

Every session the benchmark opens is sized from the machine it runs on:
cores from the CPU affinity mask, driver heap from ``MemTotal``, and all
scratch space (Spark local dirs, event log, inputs, the rollup store)
under one temp dir inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap(mem_total: int) -> str:
    """One eighth of physical memory, clamped to [1g, 4g]: the benchmark's
    inputs are tens of MB, and the machine is shared, so the heap is sized
    for headroom rather than for the largest corpus."""
    gib = mem_total / (1 << 30)
    return f"{int(min(4, max(1, gib / 8)) * 1024)}m"


def git_commit(root: str) -> str:
    """Commit of the checkout, or ``"unknown"`` where it is not a git repo."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(root: str, cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "mem_total_mb": mem_total_bytes() >> 20,
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(root),
    }


class Workspace:
    """The run's scratch dir inside the checkout; removed on close."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(root: str, ws: Workspace, cores: int, event_log: bool = False):
    """``get_spark`` at ``local[cores]`` with host-sized memory and every
    scratch path under ``ws``. Returns ``(spark, seconds to start)``."""
    # Python workers must import the engine from the checkout, and every
    # temp file Python or the JVM makes must stay inside it
    tmp = ws.sub("tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": driver_heap(mem_total_bytes()),
        # compiler threads that live as long as the JVM, so that
        # ``procstat.jit_cpu_seconds`` sees all their CPU time
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.local.dir": ws.sub("spark-local"),
        "spark.sql.warehouse.dir": ws.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    # explicit either way: a context restarted in the same JVM inherits the
    # first one's launch conf
    conf["spark.eventLog.enabled"] = str(event_log).lower()
    if event_log:
        conf.update({
            "spark.eventLog.dir": ws.sub("eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    from tsprofiler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def restart_session(spark, ws: Workspace, cores: int):
    """Stop the SparkContext and start another, without an event log, in
    the same JVM (for the single-core reference; the driver heap cannot
    change in-process)."""
    spark.stop()
    return start_session(ws.root, ws, cores)


def stop_jvm(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
