"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
Arrow batching for pandas UDFs); tests override cores/partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory_mb() -> int:
    """3/8 of the smaller of physical memory and the cgroup limit, within
    [1 GB, 16 GB] (6 GB on a 16 GB host): the local JVM gets a heap the host
    can back, and the rest is left to Python workers and the page cache."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mem = min(mem, int(raw) >> 20)
    return max(1024, min(mem * 3 // 8, 16 << 10))


def get_spark(
    app_name: str = "ape-dts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or cores
    # GC worker threads default to the HOST cpu count; under CPU-affinity
    # pinning (scaling cells) that is a thread storm on few cores — size
    # them to the actual allowance.
    allowed = len(os.sched_getaffinity(0))
    gc_threads = max(2, min(allowed, 16))
    # Each Python UDF worker spawns its own OpenMP/Arrow thread pool sized to
    # ALL host cpus; N workers x N threads thrashes the box and inverts core
    # scaling (measured: +130% pandas-UDF throughput at 16 cores with pools
    # pinned to 1).  Real per-row parallelism comes from the workers.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small batches pipeline better for multi-KB payload rows (html):
        # 2048 x ~5KB ~= 10MB per Arrow batch (measured +100% UDF throughput
        # vs 10000-row batches)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # zstd over snappy/lz4 for BOTH data files and shuffle: trades CPU
        # (which scales with cores) for bytes moved (memory/disk/network
        # bandwidth, which does not) — measured +8%/+3% e2e at 4/16 cores on
        # the CDC replay, and ~2x fewer bytes shipped at cluster scale
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # host-sized heap (SPARK_DRIVER_MEM overrides): a fixed large
        # default promises more memory than a small host can back
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or f"{_driver_memory_mb()}m",
        )
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={gc_threads} -XX:ConcGCThreads={max(1, gc_threads // 4)}",
        )
        # smaller splits -> scan parallelism survives small per-batch slices
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
