"""SparkSession factory.

The reference pins ``setParallelism(1)`` per app and runs 9 separate JVMs
(SURVEY.md §4); here one session serves every query and Catalyst/AQE size
the physical plan. Timezone is pinned to UTC so results compare bit-for-bit
with the DuckDB oracle (the reference hardcodes +08:00 in
gmall-realtime .../utils/DateTimeUtil.java:32 — see SURVEY.md §7.4; for
oracle parity we standardize on UTC and treat the zone as a config knob).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Driver heap bounds in MiB: the derived default never exceeds the heap the
# engine was tuned with (round 14) and never drops below what a session
# needs to start.
HEAP_CAP_MB = 16 * 1024
HEAP_FLOOR_MB = 1024

# The directory that holds this package, for the Python workers' path.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    """Core count for ``local[N]``: ``SPARK_GRAFT_CPUS``, else the machine's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def available_memory_bytes() -> int:
    """``MemAvailable`` from ``/proc/meminfo``; total physical memory where
    that file (or the field) is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory(available_bytes: int | None = None) -> str:
    """Driver heap size as a JVM size string.

    ``SPARK_DRIVER_MEMORY`` verbatim when set; else half of the available
    memory, capped at ``HEAP_CAP_MB`` and floored at ``HEAP_FLOOR_MB``.
    """
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    if available_bytes is None:
        available_bytes = available_memory_bytes()
    half_mb = available_bytes // 2 // (1024 * 1024)
    return f"{min(HEAP_CAP_MB, max(HEAP_FLOOR_MB, half_mb))}m"


def get_spark(
    app_name: str = "flinkrealtimedatawarehouse_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Tuned for local[N] testing but every knob is the one you'd set on a
    1000-executor cluster too: AQE on (runtime coalescing + skew-join
    handling), broadcast threshold generous for star-schema dims, Arrow on
    for the pandas-UDF slow path.
    """
    cpus = default_cpus()
    n_shuffle = shuffle_partitions or cpus
    # Fixed, fully pre-touched heap (round 14, guide §1 "measure first"):
    # on the kernel the engine was tuned on, the JVM's default
    # grow-and-shrink heap turns every allocation-heavy stage into a
    # kernel-time storm — the heap commits/uncommits pages continuously and
    # the fault path is ~50x slower than the memory itself (measured: u2@sf1
    # spent 2,147 s of SYSTEM time against 113 s of user time in one cold
    # run; kernel stacks all in folio_zero_user/huge_pmd fault handling;
    # memset bandwidth on committed pages is a healthy 10 GB/s
    # single-thread). -Xms == -Xmx + AlwaysPreTouch commits and zeroes the
    # whole heap ONCE at startup (~19 s for 16 g there, reported separately
    # from every timed window), after which TLAB allocation never re-enters
    # the kernel: the same cold run drops 214 s -> 4 s and steady-state sys
    # time drops to ~2 s.
    # Size: because the heap is committed up front, it must fit the box.
    # The default is half of MemAvailable, capped at 16g (the round-14
    # value, so any box with >= 32 GB available runs exactly as tuned) and
    # floored at 1g; the other half holds the JVM's off-heap (metaspace,
    # code cache, Netty/Arrow buffers), one Python worker per core and the
    # Python driver. SPARK_DRIVER_MEMORY overrides the size verbatim; -Xms
    # tracks it.
    driver_mem = driver_memory()
    jvm_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch " + os.environ.get(
        "SPARK_GRAFT_JVM_OPTS", ""
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", jvm_opts.strip())
        # Python workers fork from a daemon that stops every task from
        # re-reading pyspark.zip's and the jars' zip directories (see
        # workerdaemon); it still starts lazily, with the first Python task.
        # The package's root goes on the workers' path so the daemon
        # imports whatever the driver's working directory is.
        .config("spark.python.daemon.module", "flinkrealtimedatawarehouse_spark.workerdaemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
