"""SparkSession factory with scale-oriented defaults.

The reference is a single process (no session concept); here we centralize the
knobs that matter at cluster scale: AQE (skew joins + partition coalescing),
Arrow for pandas UDF exchange, bounded Arrow batch sizes (the pair-feature UDF
is quadratic in string length), and shuffle parallelism tied to core count.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass
from typing import Callable, Iterable, Mapping

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32
# Pair-feature UDFs do O(len_a * len_b) work per row; keep Arrow batches small
# enough that a single batch never stalls an executor thread for minutes.
ARROW_MAX_RECORDS_PER_BATCH = 10_000
# Heap ceiling: the round-7 tuning for 32 concurrent tasks (spills + GC thrash
# at 8g killed scaling).  Reached on any host with >= 96 GiB of usable memory.
MAX_DRIVER_MEM_MIB = 48 * 1024
_MIB = 1024 * 1024


@dataclass(frozen=True)
class DriverMemory:
    """The chosen ``spark.driver.memory`` and where it came from."""

    setting: str  # value passed to spark.driver.memory, e.g. "8046m"
    source: str  # "SPARK_GRAFT_DRIVER_MEM", "cgroup v2", "cgroup v1" or "physical RAM"
    limit_bytes: int | None  # the memory limit the heap was derived from


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def cgroup_limit_files(
    proc_cgroup: str = "/proc/self/cgroup", root: str = "/sys/fs/cgroup"
) -> list[tuple[str, str]]:
    """``(source, path)`` of every cgroup memory-limit file that may bind us.

    Both the process's own cgroup (from ``proc_cgroup``) and the hierarchy
    root are listed: inside a cgroup namespace the root IS the process's
    cgroup and the ``/proc`` path does not exist under the mount.
    """
    v2 = {os.path.join(root, "memory.max")}
    v1 = {os.path.join(root, "memory", "memory.limit_in_bytes")}
    try:
        with open(proc_cgroup) as f:
            lines = f.read().splitlines()
    except OSError:
        lines = []
    for line in lines:
        parts = line.split(":", 2)
        if len(parts) != 3:
            continue
        _, controllers, path = parts
        rel = path.lstrip("/")
        if controllers == "":
            v2.add(os.path.join(root, rel, "memory.max"))
        elif "memory" in controllers.split(","):
            v1.add(os.path.join(root, "memory", rel, "memory.limit_in_bytes"))
    return [("cgroup v2", p) for p in sorted(v2)] + [("cgroup v1", p) for p in sorted(v1)]


def _read_limit(path: str) -> int | None:
    """A numeric limit from ``path``; None when absent or ``max``."""
    try:
        with open(path) as f:
            text = f.read().strip()
    except OSError:
        return None
    return int(text) if text.isdigit() else None


def driver_memory(
    env: Mapping[str, str] = os.environ,
    limit_files: Iterable[tuple[str, str]] | None = None,
    physical_ram: Callable[[], int] = physical_ram_bytes,
) -> DriverMemory:
    """Size the local-mode heap from the memory this process can use.

    ``$SPARK_GRAFT_DRIVER_MEM`` wins when set.  Otherwise the limit is the
    smallest of physical RAM and every numeric cgroup limit (cgroup v2
    ``max`` and the v1 "unlimited" sentinel, which exceeds RAM, fall back to
    physical RAM), and the heap is ``min(48g, limit // 2)``.  Half, because
    off-heap use grows with the heap: JVM direct memory (Netty shuffle
    buffers, Arrow transfers) may by default reach ``-Xmx`` again, plus the
    code cache, metaspace and one Python worker per task for Arrow UDFs.
    """
    override = env.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return DriverMemory(override, "SPARK_GRAFT_DRIVER_MEM", None)
    limit, source = physical_ram(), "physical RAM"
    for name, path in cgroup_limit_files() if limit_files is None else limit_files:
        value = _read_limit(path)
        if value is not None and value < limit:
            limit, source = value, name
    mib = min(MAX_DRIVER_MEM_MIB, limit // 2 // _MIB)
    return DriverMemory(f"{mib}m", source, limit)


def tmpfs_local_dir(min_free: int, shm: str = "/dev/shm") -> str | None:
    """``<shm>/spark-local`` when that tmpfs is writable with ``min_free``
    bytes free, else None: shuffles on tmpfs skip the disk (bench.py's fused
    leg and BENCH/scaling.py's legs ran 6-20% slower from disk on a 4-vCPU
    host), and the floor keeps a small tmpfs (64 MiB in many containers)
    from failing the shuffles that outgrow it."""
    try:
        st = os.statvfs(shm)
    except OSError:
        return None
    if not os.access(shm, os.W_OK) or st.f_bavail * st.f_frsize < min_free:
        return None
    return os.path.join(shm, "spark-local")


def get_spark(
    app_name: str = "lab02-er-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` from ``$SPARK_GRAFT_CPUS`` (default
    32); on a real cluster pass ``None`` and let spark-submit decide.  The
    driver heap defaults to half the process's memory limit (cgroup or
    physical RAM), capped at 48g; ``$SPARK_GRAFT_DRIVER_MEM`` overrides it
    (see ``driver_memory``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, DEFAULT_SHUFFLE_PARTITIONS)))
        )

    # Whole-stage codegen for the wide feature projections generates methods
    # near HotSpot's DontCompileHugeMethods threshold (8k bytecode); such
    # methods run INTERPRETED when the JIT blacklists them, and the round-7
    # event-log capture measured first executions of the scoring stage at up
    # to 19x the steady-state CPU (2404 s vs 128 s executor run time for the
    # identical stage, uniform across all tasks) from exactly this.  Rather
    # than forcing C2 to compile huge methods (-XX:-DontCompileHugeMethods
    # measurably degraded warm legs ~15% here — compiling 64 KB methods is
    # itself expensive), split the generated code into smaller, normally
    # JIT-able methods: methodSplitThreshold 1024 -> 128 removed the
    # 150-280 s interpreted-tail legs in every observed run while keeping
    # warm-leg times unchanged.  A bigger code cache holds the extra
    # (smaller) methods.  Deployment-neutral; both knobs overridable.
    jvm_opts = os.environ.get(
        "SPARK_GRAFT_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
    )
    method_split = os.environ.get("SPARK_GRAFT_CODEGEN_SPLIT", "128")
    memory = driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .config("spark.sql.codegen.methodSplitThreshold", method_split)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory coalesces mid-size stages to ~one task wave per
        # core; 16m keeps ~4 waves so stragglers overlap instead of stalling
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode: the driver heap IS the executor heap; sized
        # from the host's memory limit (48g cap) unless $SPARK_GRAFT_DRIVER_MEM
        .config("spark.driver.memory", memory.setting)
        .config("spark.ui.enabled", "false")
    )
    # tmpfs only with the memory the heap leaves (half the limit) free there;
    # $SPARK_LOCAL_DIRS overrides spark.local.dir
    local_dir = tmpfs_local_dir((memory.limit_bytes or physical_ram_bytes()) // 2)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    fresh = SparkSession.getActiveSession() is None
    spark = builder.getOrCreate()
    if fresh:
        # read back: extra_conf may override both; $SPARK_LOCAL_DIRS takes
        # precedence over spark.local.dir in Spark
        conf = spark.sparkContext.getConf()
        log.info(
            "spark session: driver heap %s (derived %s from %s, limit %s bytes), local dir %s",
            conf.get("spark.driver.memory"),
            memory.setting,
            memory.source,
            memory.limit_bytes,
            os.environ.get("SPARK_LOCAL_DIRS") or conf.get("spark.local.dir", "java.io.tmpdir"),
        )
    return spark
