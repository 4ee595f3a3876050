"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def half_host_mem_gb(cap_gb: int) -> int:
    """Half the host's physical RAM in whole GiB, at least 1 and at most
    `cap_gb` — a memory default that fits the machine it runs on."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(cap_gb, phys // 2**31))


def get_spark(app_name: str = "tstoken", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Arrow-enabled, AQE-enabled session.

    On a real cluster these settings ride through spark-submit --conf;
    in the sandbox we default to local[$SPARK_GRAFT_CPUS].
    `extra_conf` entries are applied last (e.g. event-log capture for
    the BENCH task-balance harnesses).

    Python workers start from `tstoken._pyworker` rather than
    `pyspark.daemon`. Every Python task calls
    `importlib.invalidate_caches()`, and on Python 3.11 that makes each
    `zipimporter` re-read its archive's central directory. Spark's
    worker PYTHONPATH holds pyspark.zip, the py4j zip and the spark-core
    jar, so a worker re-read them on every task (0.15 s per RDD task,
    0.3-0.55 s per Arrow-UDF task, measured on 4 vCPU). The daemon drops
    those archives when the same pyspark and py4j are installed, and
    otherwise leaves the path as Spark built it. Workers must be able to
    import tstoken, as the grouped detectors' UDFs already require.
    """
    # make the tstoken package importable in executor Python workers
    # (spark-submit --py-files equivalent for local mode)
    src_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if src_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (src_dir + os.pathsep + existing) if existing else src_dir

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 32 MB scan splits (default 128 MB): the token tables carry a
        # fat array column that EXPANDS ~30x through posexplode, so
        # input bytes understate downstream work by that factor — with
        # 128 MB splits a 4 GB table yields ~34 tasks and a 32-thread
        # stage runs as one ragged wave (measured 47 s vs 29 s at
        # local[32] on the 6M-row staging table). 32 MB keeps every
        # stage >= 3-4 task waves per 32 cores; on a 1000-executor
        # cluster the same reasoning holds per-executor-core.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("TSTOKEN_MAX_PARTITION_BYTES", "33554432"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               f"{half_host_mem_gb(48)}g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "tstoken._pyworker")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
