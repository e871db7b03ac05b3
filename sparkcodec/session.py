"""SparkSession factory with the engine's standard local-mode config.

Design-for-scale note: these settings express intent that carries to a
real cluster (AQE, Arrow exchange, sane shuffle partition counts); the
local[N] master is only the sandbox stand-in for N executors
(BASELINE.md §B: local[8] vs local[32] proxies N vs 4N executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc tuning: keep large numpy buffers in the heap arena instead of
# mmap/munmap per allocation — first-touch page faults in constrained
# sandboxes make fresh allocations ~40x slower otherwise. Public glibc
# malloc tunables; harmless where faults are cheap.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}


def get_spark(
    cores: int | None = None,
    app_name: str = "sparkcodec",
    # modest heap on purpose: payload bytes live in Python workers, not the
    # JVM, and an oversized heap spreads allocations over fresh pages —
    # measurably slower where page faults are expensive (see BENCH notes)
    driver_memory: str = "16g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on ``local[cores]``.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. Python workers
    inherit the malloc tuning via executorEnv + os.environ (local mode
    forks workers from this process tree).
    """
    os.environ.update(_MALLOC_ENV)
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Spark plans Python data sources in workers the JVM starts, where no
    # session is reachable; the JVM inherits this environment, so those
    # planners size their reads by the session's slots, not the CPU count
    os.environ["SPARKCODEC_SLOTS"] = str(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd shuffle blocks: on text-heavy exchanges this moves cost
        # from shared IO bandwidth (which doesn't scale with cores) into
        # per-task CPU (which does) — measured clustered-encode 2->8
        # scaling efficiency rises 0.77 -> 0.83 on this host
        .config("spark.io.compression.codec", "zstd")
        # shuffle/spill on RAM-backed storage: the sandbox stand-in for the
        # NVMe shuffle volumes a real cluster would have (spinning /tmp
        # serializes the exchange at ~100 MB/s)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
