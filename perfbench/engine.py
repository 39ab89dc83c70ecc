"""Pinned engine environment, and session start/stop.

Every run uses ``local[nproc]``, a driver heap well below physical memory,
and warehouse, checkpoint, local and temp directories under one per-run
temp dir that the caller removes at exit. Nothing here forces Python or JVM
garbage collection: block build-up across operations is part of what a
long-lived session costs.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEMORY = "4g"

# Engine settings read from the environment at run time. A benchmark run
# uses each one's default: master local[SPARK_GRAFT_CPUS], the
# localCheckpoint materialize backend, the per-query streaming partition
# pin and explicit fixture paths.
ENGINE_DEFAULTS = ("SPARK_MASTER", "SPARK_GRAFT_MATERIALIZE",
                   "SPARK_GRAFT_CHECKPOINT_DIR",
                   "SPARK_GRAFT_STREAM_PARTITIONS", "SPARK_GRAFT_SF_DIR")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(tmp: str) -> None:
    """Set the engine's environment; must run before ``flink_psl_spark`` is
    imported (it reads ``SPARK_GRAFT_CPUS`` at import)."""
    for sub in ("local", "tmp", "warehouse", "jvm"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    for name in ENGINE_DEFAULTS:
        os.environ.pop(name, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        # Python workers import the package from here whatever their cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = os.path.join(tmp, "tmp")


def describe() -> dict:
    """The run environment, recorded in every output."""
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {
        "cpus": cpus(),
        "host_mem_gb": round(mem_kb / 1024 / 1024, 1),
        "driver_memory": DRIVER_MEMORY,
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        # None: the engine's default
        "engine_env": {name: os.environ.get(name) for name in
                       ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                        *ENGINE_DEFAULTS)},
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def start_session(app_name: str, tmp: str, retain_all: bool = False):
    """A session through the engine's own factory, with per-run dirs.
    ``retain_all`` keeps every job and stage in the status store, for a
    traced process that reads the store once at the end."""
    from flink_psl_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
    }
    if retain_all:
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000",
                     "spark.sql.ui.retainedExecutions": "1000000"})
    return get_spark(app_name=app_name, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit (the JVM exits when
    its stdin closes; Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_for_descendants(timeout: float = 30.0) -> None:
    """Wait until every process started below this one has ended (Python
    workers exit shortly after their JVM); kill what outlives ``timeout``."""
    from perfbench.trace import descendants

    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in descendants(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)
