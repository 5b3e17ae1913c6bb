"""Process, host and statistics helpers shared by the benchmark's files.

Everything the benchmark writes lives under the checkout it runs from:
scratch work (indexes, Spark local dirs, temp files) under a per-run
directory in ``.perfbench_tmp/`` that is removed when the run ends, and
trace files under ``.perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "uci_searchengine_spark"


def bench_spec() -> dict:
    """BENCHMARK.json at the root of the checkout: the workloads and every
    metric's name, unit and direction, read by every part of the benchmark."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus() -> int:
    """CPUs this process may run on (affinity mask, not the host total)."""
    return len(os.sched_getaffinity(0))


def require_engine() -> None:
    """Exit non-zero, printing no result, when the engine package is not
    beside the benchmark (e.g. a directory holding only the benchmark)."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        sys.exit(3)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def process_start_time() -> float:
    """This process's start as a ``time.time()`` value (from /proc, so the
    interpreter's own start-up counts toward set-up time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / hz


class WorkDir:
    """Per-run scratch directory inside the checkout; removed on exit."""

    def __init__(self, tag: str):
        os.makedirs(TMP_ROOT, exist_ok=True)
        self.path = os.path.join(TMP_ROOT, f"{tag}-{os.getpid()}")
        os.makedirs(self.path)
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp)

    @classmethod
    def attach(cls, path: str) -> "WorkDir":
        """The work dir another process of this run created (not owned)."""
        self = cls.__new__(cls)
        self.path = path
        self.tmp = os.path.join(path, "tmp")
        return self

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)  # only succeeds when no other run is live
        except OSError:
            pass


def engine_env(work: WorkDir) -> dict:
    """Environment for any process that starts Spark: the engine importable
    by Python workers and every temp file under the run's work dir."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["TMPDIR"] = work.tmp
    env["SPARK_LOCAL_DIRS"] = work.tmp
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    return env


def start_spark(work: WorkDir):
    """SparkSession at local[N], N = CPUs available, through the engine's
    own ``session.get_spark``; returns the session."""
    os.environ.update(engine_env(work))
    from uci_searchengine_spark.session import get_spark

    n = cpus()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.local.dir": work.tmp,
            # the engine's own option, plus: temp files in the work dir
            # and no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true "
                f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until every process it
    started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    started = process_tree(os.getpid())[1:]
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(started, timeout)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


# ----------------------------------------------------------------- /proc
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _proc_field(pid: int, fname: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{fname}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rchar_total(root: int) -> int:
    """Bytes read (``rchar``) summed over ``root``'s live process tree."""
    return sum(_proc_field(p, "io", "rchar:") for p in process_tree(root))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: the
    share of time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process, in MB."""
    return _proc_field(pid, "status", "VmHWM:") / 1024.0


def jvm_pid(root: int) -> int | None:
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            continue
    return None


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            fp = os.path.join(dp, fn)
            if os.path.isfile(fp) and not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


# ----------------------------------------------------------------- stats
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs, q: float = 0.95) -> float | None:
    """The q-quantile, only when at least ten samples lie beyond it."""
    if len(xs) * (1.0 - q) < 10:
        return None
    return float(statistics.quantiles(xs, n=100)[int(round(q * 100)) - 1])


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on standard error, with seconds since import."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: last line of standard output."""
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
