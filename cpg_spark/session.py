"""SparkSession factory used by tests, bench, and the driver entry point."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of the host's memory given to the driver heap.  The rest covers
# the JVM's non-heap RSS (a 6 GB heap measured 7.5 GB RSS) and the
# local Python workers; the reference itself builds graphs in a 4 GB heap
_HEAP_SHARE = 0.4

# cgroup v2 and v1 memory limit files (an unlimited v1 limit reads as a
# huge number, v2 as "max")
_CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max",
                  "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _host_memory_bytes() -> int:
    """Physical memory (``MemTotal`` on Linux), or the cgroup limit when
    lower."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a session: ``$CPG_SPARK_DRIVER_MEM``
    when set, else ``_HEAP_SHARE`` of the host's memory in MiB."""
    env = os.environ.get("CPG_SPARK_DRIVER_MEM")
    if env:
        return env
    return f"{int(_host_memory_bytes() * _HEAP_SHARE) >> 20}m"


def default_cpus() -> int:
    """Local parallelism for a session: ``$SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on.  One Python worker per slot
    sits beside the driver JVM, so more slots than cores only adds
    memory pressure."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def build_session(
    app_name: str = "cpg_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] session sized from the host; on a real cluster the same
    pipeline runs unchanged via ``spark-submit --py-files`` (the only
    local-specific knob is ``spark.driver.memory``).

    ``cpus`` defaults to :func:`default_cpus` (``$SPARK_GRAFT_CPUS``, else
    the host's usable cores).

    The driver heap is ``$CPG_SPARK_DRIVER_MEM`` when set, else 40% of
    the host's physical memory (``MemTotal``, or the cgroup memory limit
    when that is lower); see :func:`default_driver_memory`.  A heap
    sized past the host lets G1 commit far beyond the live set until the
    kernel kills the JVM."""
    # make the package importable inside forked Python workers regardless of
    # the caller's cwd (cluster deployments ship it via --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # match core count locally; on a cluster this should be
        # ~2-3x total executor cores, or left to AQE coalescing
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves stage-commit bytes vs snappy at ~equal CPU: measured
        # 45.3s -> 37.0s pipeline and -42% bytes at 24k docs; at corpus
        # scale smaller checkpoints also mean less shuffle-read and less
        # object-store traffic
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # shuffle/spill scratch dirs.  On a cluster every executor has its own
    # local disks (NVMe), so shuffle I/O scales with machines; this sandbox
    # shares ONE virtual disk across all local threads, which becomes the
    # bottleneck at high parallelism (measured: parse+persist 94.7 s on
    # disk vs 69.7 s on tmpfs at local[32]/192k docs, identical at
    # local[8]).  CPG_SPARK_LOCAL_DIR (e.g. a tmpfs path) models the
    # per-executor-local-storage reality for scaling measurements.
    local_dir = os.environ.get("CPG_SPARK_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
