"""Run conditions shared by ``run.py`` and ``traced.py``.

``configure`` must run before pyspark is imported: the JVM reads
``PYSPARK_SUBMIT_ARGS`` and ``SPARK_LOCAL_DIRS`` when it is launched.
"""

from __future__ import annotations

import os
import shlex
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lab02_citation_matching_and_entity_resolution_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def master() -> str:
    return f"local[{nproc()}]"


def configure(work: str, events: str) -> None:
    """Spark at local[nproc] with 2 x nproc shuffle partitions and the
    package's own heap sizing; spill under ``work`` on disk; an uncompressed
    event log in ``events``; no console progress bar."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the package's knobs stay at their defaults
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(events, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(events),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def process_start() -> float:
    """Epoch seconds at which this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def stop_jvm() -> None:
    """Stop the session (this flushes the event log) and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
