"""Traced mode: spans around calls into the engine's layers.

The benchmark wraps public (module-level) functions and methods of the
engine from here, at run time, keeps every span in memory (name, start,
end, parent, request id and one optional count) and writes them out when
the run ends. Nothing in the engine is edited.

Queries alternate traced and untraced (odd/even query number): both
kinds share one stream of traffic, one cache state and one host phase,
so the traced queries' median latency minus the untraced queries'
median latency is the tracing overhead.

Spark work is read from the driver's status store, which is populated
with the UI off: per query, the jobs of the query's job group, their
stages (skipped stages excluded) and those stages' task metrics.
"""

from __future__ import annotations

import functools
import gzip
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._tls = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._req_ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()

    # ------------------------------------------------------------ recording
    def _next(self, it) -> int:
        with self._lock:
            return next(it)

    def active(self) -> bool:
        return getattr(self._tls, "req", None) is not None

    def request(self, enabled: bool = True):
        """Context manager: one traced request on this thread."""
        tracer = self

        class _Req:
            def __enter__(self):
                tracer._tls.req = tracer._next(tracer._req_ids) if enabled else None
                tracer._tls.stack = []
                return tracer._tls.req

            def __exit__(self, *exc):
                tracer._tls.req = None
                return False

        return _Req()

    def wrap(self, name: str, fn, count=None):
        """``fn`` recording a span per call while a request is traced.
        ``count(result, args, kwargs)`` gives the span's optional count."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tls = tracer._tls
            req = getattr(tls, "req", None)
            if req is None:
                return fn(*args, **kwargs)
            sid = tracer._next(tracer._ids)
            stack = tls.stack
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
            n = count(out, args, kwargs) if count is not None else None
            tracer.spans.append((sid, name, t0, t1, parent, req, n))
            return out

        return wrapper

    def record(self, name: str, t0: float, t1: float, n=None) -> None:
        """A span timed by the caller (parent: the innermost open span)."""
        tls = self._tls
        req = getattr(tls, "req", None) or 0
        stack = getattr(tls, "stack", None) or []
        self.spans.append(
            (self._next(self._ids), name, t0, t1, stack[-1] if stack else 0, req, n)
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with gzip.open(path, "wt") as f:
            f.write('["id","name","start","end","parent","request","count"]\n')
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TimedLock:
    """Stand-in for the HTTP engine lock that records lock waits."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        t0 = time.perf_counter()
        self._lock.acquire()
        if self._tracer.active():
            self._tracer.record("http_api.lock_wait", t0, time.perf_counter())
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


def _patch(obj, attr: str, tracer: Tracer, name: str, count=None) -> None:
    setattr(obj, attr, tracer.wrap(name, getattr(obj, attr), count))


def install_serving(tracer: Tracer, per_bucket: bool) -> None:
    """Wrap the query path: serving → local_search → wand → codec.

    ``per_bucket``: also wrap the per-bucket scoring closure and what it
    calls. Only valid where that closure runs in this process (the
    task-local plan): the distributed plan pickles the closure to Python
    workers, which must get the engine's own functions."""
    from uci_searchengine_spark.operators import local_search, serving, wand

    S = serving.Searcher
    # a cache hit is a serving.search span without a search_impl child
    _patch(S, "search", tracer, "serving.search")
    _patch(
        S, "_search_impl", tracer, "serving.search_impl",
        lambda out, a, k: 1 if a[0].last_plan == "local" else 0,
    )
    _patch(serving, "terms_for_index", tracer, "serving.analyze")
    _patch(
        local_search, "pruned_shard_bytes", tracer, "local_search.shard_bytes",
        lambda out, a, k: out,
    )
    _patch(local_search, "read_pruned_segments_local", tracer, "local_search.scan")
    _patch(local_search, "local_topk_count_docs", tracer, "local_search.envelope")
    _patch(wand, "topk_count_docs", tracer, "wand.distributed_envelope")
    if not per_bucket:
        return
    _patch(wand, "_score_bucket", tracer, "wand.score")
    _patch(wand, "_score_bucket_and", tracer, "wand.score")
    _patch(
        wand, "fetch_bucket_docs", tracer, "wand.fetch_docs",
        lambda out, a, k: len(a[2]),
    )
    _patch(
        wand, "unpack_postings", tracer, "codec.decode",
        lambda out, a, k: len(out[0]),
    )
    orig_make = wand.make_envelope_fn

    @functools.wraps(orig_make)
    def make_envelope_fn(*a, **k):
        make_fn = orig_make(*a, **k)
        return lambda excl: tracer.wrap("wand.bucket", make_fn(excl))

    wand.make_envelope_fn = make_envelope_fn


def install_http(tracer: Tracer, server, on_request=None) -> None:
    """Wrap the HTTP layer of a built (not yet serving) server and its
    engine lock. A GET is traced when its url carries ``pbtrace=1`` (the
    client marks every other request; the API ignores the parameter).
    ``on_request(req)`` runs at the start of each traced request."""
    handler = server.RequestHandlerClass
    engine = handler.engine
    engine.lock = TimedLock(engine.lock, tracer)
    traced_get = tracer.wrap("http_api.request", handler.do_GET)

    def do_GET(self):  # noqa: N802 (stdlib API name)
        with tracer.request("pbtrace=1" in self.path) as req:
            if req is not None and on_request is not None:
                on_request(req)
            return traced_get(self)

    handler.do_GET = do_GET


# ---------------------------------------------------------------- spark
class SparkWork:
    """Work of one Spark job group, read from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, gid: str) -> dict:
        self._drain()
        jvm, gw = self.sc._jvm, self.sc._gateway
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0.0,
            "cpu_ms": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0, "intervals": [],
        }
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                it = self._store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    gw.new_array(jvm.double, 0),
                ).iterator()
                while it.hasNext():
                    st = it.next()
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ms"] += st.executorCpuTime() / 1e6
                    out["shuffle_read_b"] += st.shuffleReadBytes()
                    out["shuffle_write_b"] += st.shuffleWriteBytes()
                    out["spill_b"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                    sub, comp = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and comp.isDefined():
                        out["intervals"].append(
                            (sub.get().getTime(), comp.get().getTime())
                        )
        return out


def union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ----------------------------------------------------------- aggregation
def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id → self time (s): duration minus its direct children's."""
    child = defaultdict(float)
    for sid, _, t0, t1, parent, _, _ in spans:
        if parent:
            child[parent] += t1 - t0
    return {s[0]: (s[3] - s[2]) - child[s[0]] for s in spans}


def layer_table(spans: list[tuple]) -> dict[str, dict]:
    """Per span name: calls, total ms, self ms, summed count."""
    selfs = self_times(spans)
    agg: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "count": 0}
    )
    for sid, name, t0, t1, _, _, n in spans:
        a = agg[name]
        a["calls"] += 1
        a["total_ms"] += (t1 - t0) * 1e3
        a["self_ms"] += selfs[sid] * 1e3
        if isinstance(n, (int, float)):
            a["count"] += n
    return dict(agg)


def print_table(table: dict[str, dict], queries: int) -> None:
    """Per span name: calls, and total and self ms per traced query."""
    print(f"{'span':32s} {'calls':>8s} {'total ms/q':>11s} {'self ms/q':>10s}")
    q = max(queries, 1)
    for name in sorted(table):
        a = table[name]
        print(
            f"{name:32s} {a['calls']:8d} {a['total_ms'] / q:11.3f} "
            f"{a['self_ms'] / q:10.3f}"
        )


# ------------------------------------------------------ per-layer values
def build_layer(index_dir: str, build_s: float, work: dict) -> dict:
    """index_build.* from one build: wall time, the stage-1 manifests'
    per-phase seconds, the build's Spark work and its postings count."""
    from uci_searchengine_spark.operators.index_build import build_metrics

    phases = {"extract": 0.0, "tokenize": 0.0, "postings": 0.0, "write": 0.0}
    mdir = os.path.join(index_dir, "_manifest")
    for fn in sorted(os.listdir(mdir)):
        if fn.startswith("stage1-") and fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                m = json.load(f)
            for p in phases:
                phases[p] += float(m.get(f"secs_{p}", 0.0))
    out = {f"index_build.{p}_s": v for p, v in phases.items()}
    out.update(
        {
            "index_build.build_s": build_s,
            "index_build.spark_tasks": work["tasks"],
            "index_build.shuffle_write_mb": work["shuffle_write_b"] / 2**20,
            "index_build.spill_mb": work["spill_b"] / 2**20,
            "index_build.postings": build_metrics(index_dir)["postings"],
        }
    )
    return out


def query_layers(spans: list[tuple], walls: dict[int, float]) -> dict:
    """Per-query layer figures from the spans of traced queries.
    ``walls``: traced request id → client-side latency (s)."""
    q = max(len(walls), 1)
    t = layer_table([s for s in spans if s[5] in walls])
    get = lambda n, k: t.get(n, {}).get(k, 0)  # noqa: E731
    impl_parents = {s[4] for s in spans if s[1] == "serving.search_impl"}
    searches = [s for s in spans if s[1] == "serving.search" and s[5] in walls]
    hits = sum(1 for s in searches if s[0] not in impl_parents)
    impl_calls = get("serving.search_impl", "calls")
    return {
        "http_api.request_self_ms": get("http_api.request", "self_ms") / q,
        "http_api.lock_wait_ms": get("http_api.lock_wait", "total_ms") / q,
        "serving.search_ms": get("serving.search", "total_ms") / q,
        "serving.analyze_ms": get("serving.analyze", "total_ms") / q,
        "serving.cache_hit_ratio": hits / len(searches) if searches else 0.0,
        "serving.cache_lookups": len(searches),
        "serving.local_plan_share": (
            get("serving.search_impl", "count") / impl_calls if impl_calls else 0.0
        ),
        "local_search.scan_ms": get("local_search.scan", "total_ms") / q,
        "local_search.scan_kb_per_query": (
            get("local_search.shard_bytes", "count") / 1024 / q
        ),
        "local_search.envelope_ms": get("local_search.envelope", "total_ms") / q,
        "wand.bucket_calls_per_query": get("wand.bucket", "calls") / q,
        "wand.bucket_self_ms": get("wand.bucket", "self_ms") / q,
        "wand.score_ms": get("wand.score", "total_ms") / q,
        "wand.fetch_docs_ms": get("wand.fetch_docs", "total_ms") / q,
        "wand.docs_fetched_per_query": get("wand.fetch_docs", "count") / q,
        "wand.distributed_envelope_ms": (
            get("wand.distributed_envelope", "total_ms") / q
        ),
        "codec.decode_ms": get("codec.decode", "total_ms") / q,
        "codec.postings_decoded_per_query": get("codec.decode", "count") / q,
        "trace.spans_per_query": sum(a["calls"] for a in t.values()) / q,
    }


def spark_layers(per_query: list[dict], walls_ms: list[float]) -> dict:
    """spark.* per query from each traced query's job-group work."""
    q = max(len(per_query), 1)
    gap = 0.0
    for w, wall in zip(per_query, walls_ms):
        if w["jobs"]:
            gap += max(wall - union_ms(w["intervals"]), 0.0)
    tot = lambda k: sum(w[k] for w in per_query)  # noqa: E731
    return {
        "spark.jobs_per_query": tot("jobs") / q,
        "spark.stages_per_query": tot("stages") / q,
        "spark.tasks_per_query": tot("tasks") / q,
        "spark.task_run_ms_per_query": tot("run_ms") / q,
        "spark.task_cpu_ms_per_query": tot("cpu_ms") / q,
        "spark.scheduling_gap_ms_per_query": gap / q,
        "spark.shuffle_kb_per_query": (
            (tot("shuffle_read_b") + tot("shuffle_write_b")) / 1024 / q
        ),
    }


def per_layer_metrics(values: dict, per_layer: list[dict]) -> dict:
    """The traced run's metrics object: every ``per_layer`` entry of
    BENCHMARK.json, 0 where the workload does not exercise the layer."""
    unknown = set(values) - {m["name"] for m in per_layer}
    if unknown:
        raise KeyError(f"not in BENCHMARK.json per_layer: {sorted(unknown)}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in per_layer
    }
