"""SparkSession factory for the engine.

Defaults are sized for the sandbox (single-JVM local[N]) but every knob is
cluster-correct: AQE on (runtime re-plan + skew-join splitting), Arrow on
(all our Python kernels are pandas/Arrow-vectorized, never per-row), shuffle
partitions ~ cores locally (on a real cluster AQE coalesces from a higher
initial number), UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",                       # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",     # cgroup v1
)


def _default_cores() -> int:
    """CPUs this process may run on (its affinity mask, not the box)."""
    return len(os.sched_getaffinity(0))


def _default_driver_mem() -> str:
    """A quarter of the memory this process may use — the cgroup limit,
    else /proc/meminfo's MemTotal (the smaller when both are set; an
    unlimited cgroup reads as "max" or a near-2^63 number) — between 1 GB
    and 24 GB. The rest stays for the Python workers and the page cache."""
    limits = []
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limits.append(int(value))
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                limits.append(int(line.split()[1]) * 1024)
    mb = (min(limits) // 4) >> 20
    return f"{min(max(mb, 1024), 24 * 1024)}m"


def get_spark(
    app_name: str = "tods_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the rollup engine.

    ``cores``: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS
    or the CPUs in this process's affinity mask. The driver heap is
    $SPARK_GRAFT_DRIVER_MEM or ``_default_driver_mem()``.
    """
    # glibc tuning for Arrow/numpy workers: without it every large numpy
    # allocation mmaps fresh pages and pays first-touch page faults (measured
    # ~150 MB/s on this kernel vs ~5 GB/s warm). Keeping big allocations in
    # the arena (high mmap threshold, no trim) makes workers reuse warm pages
    # — ~40x on allocation-heavy UDFs. Set BEFORE the JVM launches so
    # spawned Python workers inherit it; executorEnv covers cluster mode.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    # Python workers import tods_spark by name (UDFs pickle module-level
    # functions by reference); put the package root on their path so a
    # driver started from any working directory works. The JVM hands its
    # own PYTHONPATH to the local workers; executorEnv covers cluster mode.
    path = os.environ.get("PYTHONPATH")
    if _PACKAGE_ROOT not in (path or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = _PACKAGE_ROOT + (
            os.pathsep + path if path else "")
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or _default_cores()
    master = f"local[{cores}]"
    n_cores = _default_cores() if cores == "*" else int(cores)
    driver_mem = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                  or _default_driver_mem())
    if shuffle_partitions is None:
        # local mode: ~cores; a real cluster would start higher and let
        # AQE coalesce (spark.sql.adaptive.coalescePartitions).
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: grouped/mapInPandas kernels (digest
        # merges, Gorilla pack, detectors) pay a fixed python cost per
        # batch. Measured when raw->1m still ran a mapInPandas partial
        # digest (100k cut that stage 33% vs 10k at 16M rows); raw->1m no
        # longer crosses into Python and the value was not re-measured
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", driver_mem)
        # pin -Xms to -Xmx: G1 otherwise uncommits heap regions between
        # (and size it to the JOB, not the box: a pinned 48g heap costs
        # ~20s of extra first-touch faults per JVM on this kernel vs 24g —
        # measured 48s vs 29s cold on the 16M-row rollup)
        # bursts, and this kernel's first-touch page faults are globally
        # serialized (~1 GB/s across ALL threads) — an unpinned heap makes
        # every allocation burst a kernel convoy at high parallelism
        # (measured: 32-thread tier write 59s unpinned vs 13s pinned)
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + driver_mem,
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
