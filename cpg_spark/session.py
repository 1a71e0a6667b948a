"""SparkSession factory used by tests, bench, and the driver entry point.

The one module that reads the environment: :func:`build_session` maps
every setting into the Spark conf, where ``spark-submit --conf`` and
``extra_conf`` set the same keys (README "Settings").
"""

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

CATALOG_CONF = "spark.cpg.catalog"
SCRATCH_DIR_CONF = "spark.cpg.scratchDir"
# the conf keys a stage's lineage records: the deployment settings above
# plus the Spark keys build_session maps from the environment
RECORDED_CONF = ("spark.master", "spark.driver.memory", "spark.local.dir",
                 CATALOG_CONF, SCRATCH_DIR_CONF)


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


def env_conf() -> dict[str, str]:
    """The deployment settings the environment gives, as Spark conf
    entries (unset variables give none):

    * ``CPG_SPARK_LOCAL_DIR`` -> ``spark.local.dir``, the shuffle and
      spill dirs.  On a cluster every executor has its own local disks
      (NVMe), so shuffle I/O scales with machines; a local session
      shares ONE disk across all threads, which becomes the bottleneck
      at high parallelism (measured: parse+persist 94.7 s on disk vs
      69.7 s on tmpfs at local[32]/192k docs, identical at local[8]).
      A tmpfs path here models per-executor local storage for scaling
      measurements;
    * ``CPG_SPARK_SCRATCH_DIR``, else ``CPG_SPARK_LOCAL_DIR`` ->
      :data:`SCRATCH_DIR_CONF`;
    * ``CPG_SPARK_CATALOG`` -> :data:`CATALOG_CONF`."""
    conf = {}
    local_dir = os.environ.get("CPG_SPARK_LOCAL_DIR")
    if local_dir:
        conf["spark.local.dir"] = local_dir
    scratch_dir = os.environ.get("CPG_SPARK_SCRATCH_DIR") or local_dir
    if scratch_dir:
        conf[SCRATCH_DIR_CONF] = scratch_dir
    catalog = os.environ.get("CPG_SPARK_CATALOG")
    if catalog:
        conf[CATALOG_CONF] = catalog
    return conf


def settings_in_force(spark: SparkSession) -> dict[str, str | None]:
    """The :data:`RECORDED_CONF` values of ``spark``'s conf, ``None``
    where a key is unset.  Read on the driver: no Spark job."""
    return {k: spark.conf.get(k, None) for k in RECORDED_CONF}


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
    kernel kills the JVM.

    The local dir, scratch dir and catalog come from :func:`env_conf`;
    ``extra_conf`` is applied last, so it overrides any of them."""
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
    conf = env_conf()
    if "spark.local.dir" in conf:
        os.makedirs(conf["spark.local.dir"], exist_ok=True)
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
