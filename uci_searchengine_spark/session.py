"""SparkSession construction with scale-aware defaults.

Designed for a real multi-executor cluster (AQE, Arrow, sensible shuffle
partitioning) but testable on local[N]. All knobs here are plain public
Spark configs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "uci-searchengine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Keep Python-worker malloc arenas resident: this environment (a
    # microVM) faults fresh pages in at ~15-50 MB/s, so numpy's default
    # mmap-per-large-buffer means every task re-pays multi-second
    # first-touch costs. Large allocations go on the retained heap
    # instead, so a reused worker faults its working set once.
    # (Measured: identical 1.6M-row pack task 23.7s cold vs 0.6s warm.)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → one shuffle partition per core keeps every stage
        # fully parallel without tiny-task overhead at test scale. On a
        # real cluster this should be ~2-3x total cores, or left to AQE
        # coalescing (enabled below).
        n = master[len("local[") : -1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        # Python workers fork from the engine's daemon (pyworker.py: a
        # task no longer re-parses pyspark's zips). The package's parent
        # (a dir, or a --py-files zip) on the workers' path lets the
        # daemon import from any cwd. Only local masters: that path
        # exists on the driver's machine alone, and cluster executors
        # keep pyspark's daemon, which needs no engine install.
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prev = extra_conf.get("spark.executorEnv.PYTHONPATH")
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (pkg_parent, prev) if p
        )
        builder = builder.config(
            "spark.python.daemon.module", "uci_searchengine_spark.pyworker"
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
