"""SparkSession construction with scale-aware defaults.

Designed for a real multi-executor cluster (AQE, Arrow, sensible shuffle
partitioning) but testable on local[N]. All knobs here are plain public
Spark configs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# longest AF_UNIX socket path the OS takes (sun_path is 108 bytes, NUL
# included), and the name Spark gives each socket under its dir:
# ".<uuid4>.sock", 42 characters
_SUN_PATH_MAX = 107
_UDS_NAME_LEN = 42


def unix_socket_dir() -> "str | None":
    """The dir the Python-worker Unix sockets of a local session go in:
    the session's temp dir (``tempfile.gettempdir()``, which follows
    ``TMPDIR``), or None when a socket path there would exceed the
    OS limit (the session then keeps Spark's loopback TCP channel)."""
    d = tempfile.gettempdir()
    if len(os.fsencode(d)) + 1 + _UDS_NAME_LEN > _SUN_PATH_MAX:
        return None
    return d


def local_cpus() -> int:
    """Cores of a default local master: ``SPARK_GRAFT_CPUS``, else this
    host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "uci-searchengine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession (``getOrCreate``; ``extra_conf`` last,
    so a caller's setting wins). Without ``master``: ``local[N]``, N =
    ``local_cpus()``; without
    ``shuffle_partitions``: one per local core.

    On a local master (``local[N]``, ``local-cluster``), Python tasks
    run under the engine's worker daemon (``pyworker``: modules the
    tasks import are loaded and frozen before it forks) and talk to the
    JVM over Unix-domain sockets (``spark.python.unix.domain.socket.*``)
    in the session's temp dir: the loopback TCP channel stalls a task
    ~40 ms reading its input. A temp dir too long for a socket path
    (``unix_socket_dir``) keeps TCP."""
    # Keep Python-worker malloc arenas resident: this environment (a
    # microVM) faults fresh pages in at ~15-50 MB/s, so numpy's default
    # mmap-per-large-buffer means every task re-pays multi-second
    # first-touch costs. Large allocations go on the retained heap
    # instead, so a reused worker faults its working set once.
    # (Measured: identical 1.6M-row pack task 23.7s cold vs 0.6s warm.)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    cpus = local_cpus()
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
        sock_dir = unix_socket_dir()
        if sock_dir is not None:
            builder = builder.config(
                "spark.python.unix.domain.socket.enabled", "true"
            ).config("spark.python.unix.domain.socket.dir", sock_dir)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
