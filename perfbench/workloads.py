"""The two workloads. Each returns (e2e, layers, extra) and records
operations and check failures on its ``Run``: ``e2e`` the end-to-end
metric values, ``layers`` the per-layer values
(traced runs), ``extra`` workload-specific figures printed for readers.
"""

from __future__ import annotations

import http.client
import json
import os
import select
import signal
import subprocess
import sys
import threading
import time
import urllib.parse

import common
import inputs
import oracle_check
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


class Run:
    """Shared per-run state: arguments, timings and check outcome."""

    def __init__(self, args, t_start: float):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.t_start = t_start
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, msg: str) -> None:
        if not ok and len(self.errors) < 50:
            self.errors.append(msg)

    def spans_path(self, workload: str) -> str:
        return os.path.join(common.OUT_ROOT, f"{workload}-seed{self.seed}")


def _latency_metrics(lat_s: list[float], wall_s: float) -> dict:
    return {
        "query_p50_ms": common.median(lat_s) * 1e3,
        "queries_per_s": len(lat_s) / wall_s if wall_s > 0 else 0.0,
    }


def _overhead(lat: list[float], traced: list[bool]) -> float:
    on = [x for x, t in zip(lat, traced) if t]
    off = [x for x, t in zip(lat, traced) if not t]
    return (common.median(on) - common.median(off)) * 1e3 if on and off else 0.0


def _text_bytes(oracle) -> int:
    return sum(len(t.encode("utf-8")) for t in oracle.texts)


def _check_answers(
    run: Run, answers, oracle, label: str = "", tie_order: bool = True
) -> int:
    """Oracle-compare (query, mode, envelope) triples; returns the count
    of equal-score positions shown in another order than the oracle's."""
    swaps = 0
    for q, mode, env in answers:
        errs, n = oracle_check.compare_envelope(env, oracle, q, mode, tie_order)
        swaps += n
        for e in errs[:3]:
            run.check(False, f"{label}{mode} {q!r}: {e}")
    return swaps


# ------------------------------------------------------------ serve_local
def _get(port: int, q: str, mode: str, traced: bool = False):
    """One GET /api/search on a fresh connection: (status, body)."""
    path = "/api/search?" + urllib.parse.urlencode(
        {"query": q, "mode": mode, **({"pbtrace": 1} if traced else {})}
    )
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()
    except OSError as e:
        return -1, repr(e).encode()


def _closed_loop(port: int, pool, seq, clients: int, seconds: float, trace: bool):
    """``clients`` threads, each sending its next query only after the
    previous reply; runs until ``seconds`` have passed. Returns per-request
    (latency s, key, traced, status, body) and the phase's wall time."""
    lock = threading.Lock()
    nxt = iter(range(len(seq)))
    out: list[tuple] = []
    deadline = time.perf_counter() + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(nxt)
            key = pool[int(seq[i])]
            traced = trace and i % 2 == 1
            t0 = time.perf_counter()
            status, body = _get(port, *key, traced=traced)
            out.append((time.perf_counter() - t0, key, traced, status, body))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


def _read_ready(proc: subprocess.Popen, timeout: float) -> dict:
    ready, _, _ = select.select([proc.stdout], [], [], timeout)
    line = proc.stdout.readline() if ready else ""
    if not line:
        raise RuntimeError("server did not start")
    return json.loads(line)


def serve_local(run: Run):
    work = common.WorkDir("serve_local")
    proc = None
    tree: list[int] = []
    try:
        spans_file = run.spans_path("serve_local") if run.trace else None
        if spans_file:
            os.makedirs(common.OUT_ROOT, exist_ok=True)
        cmd = [
            sys.executable, os.path.join(HERE, "server.py"),
            "--seed", str(run.seed), "--pages", str(inputs.SERVE_PAGES),
            "--work", work.path,
        ] + (["--spans", spans_file] if spans_file else [])
        proc = subprocess.Popen(
            cmd, cwd=common.ROOT, env=common.engine_env(work),
            stdout=subprocess.PIPE, text=True,
        )
        ready = _read_ready(proc, 800)
        common.log(f"server ready (build {ready['build_s']:.1f}s)")
        port = ready["port"]
        pool = inputs.query_pool(run.seed)
        seq = inputs.zipf_sequence(len(pool), 1 << 17)
        # one untimed request: the first query's lazy set-up is paid once
        # per server, and counts in set-up time
        _get(port, "stop0", "or")
        setup_s = time.time() - run.t_start

        rc0, st0 = common.rchar_total(proc.pid), common.cpu_ticks()
        clients = inputs.SERVE_CLIENTS
        reqs, wall = _closed_loop(port, pool, seq, clients, run.seconds, run.trace)
        rc1, st1 = common.rchar_total(proc.pid), common.cpu_ticks()
        py_rss = common.peak_rss_mb(proc.pid)
        jvm = common.jvm_pid(proc.pid)
        jvm_rss = common.peak_rss_mb(jvm) if jvm else 0.0
        tree = common.process_tree(proc.pid)
        common.log(f"{len(reqs)} queries done; stopping server")
        proc.send_signal(signal.SIGTERM)
        proc.wait(120)
        common.wait_gone(tree, 60)
        common.log("server stopped; checking answers")

        run.attempted += len(reqs)
        answers: dict = {}
        bodies: dict = {}
        for _, key, _, status, body in reqs:
            if status != 200:
                run.failed += 1
                run.check(False, f"{key}: HTTP {status} {body[:200]!r}")
                continue
            first = bodies.setdefault(key, body)
            run.check(first == body, f"{key}: repeated answer differs")
            if key not in answers:
                answers[key] = json.loads(body)

        oracle = _oracle(inputs.SERVE_PAGES, run.seed)
        swaps = _check_answers(run, [(q, m, e) for (q, m), e in answers.items()], oracle)
        ok_lat = [r[0] for r in reqs if r[3] == 200]
        e2e = {
            "setup_s": setup_s,
            **_latency_metrics(ok_lat, wall),
            "read_kb_per_query": (rc1 - rc0) / 1024 / max(len(ok_lat), 1),
            "python_peak_rss_mb": py_rss,
            "index_bytes_per_text_byte": (
                common.dir_bytes(ready["index_dir"]) / _text_bytes(oracle)
            ),
            "build_docs_per_s": inputs.SERVE_PAGES / ready["build_s"],
        }
        extra = {
            "query_p95_ms": _p95_ms(ok_lat),
            "queries": len(ok_lat),
            "clients": clients,
            "distinct_queries": len(answers),
            "tie_order_swaps": swaps,
            "host_steal_share": common.steal_share(st0, st1),
        }
        layers = {}
        if run.trace:
            layers = _serve_local_layers(reqs, spans_file, ready)
            layers["proc.jvm_peak_rss_mb"] = jvm_rss
        return e2e, layers, extra
    finally:
        if proc is not None and proc.poll() is None:
            tree = tree or common.process_tree(proc.pid)
            proc.kill()
            proc.wait()
            common.wait_gone(tree, 30)
        work.close()


def _serve_local_layers(reqs, spans_file: str, ready: dict) -> dict:
    import gzip

    with gzip.open(spans_file + ".spans.gz", "rt") as f:
        next(f)
        spans = [tuple(json.loads(line)) for line in f]
    with open(spans_file + ".spark.json") as f:
        spark_work = {int(k): v for k, v in json.load(f).items()}
    # pair each traced request with its wall from the server's own span
    walls = {
        s[5]: s[3] - s[2] for s in spans if s[1] == "http_api.request"
    }
    tracing.print_table(tracing.layer_table(spans), len(walls))
    layers = tracing.query_layers(spans, walls)
    ids = sorted(walls)
    layers.update(
        tracing.spark_layers(
            [spark_work.get(r, _NO_SPARK) for r in ids],
            [walls[r] * 1e3 for r in ids],
        )
    )
    layers.update(ready["layers"])
    layers["serving.reload_ms"] = ready["reload_ms"]
    lat = [r[0] for r in reqs if r[3] == 200]
    layers["trace.overhead_ms"] = _overhead(lat, [r[2] for r in reqs if r[3] == 200])
    return layers


_NO_SPARK = {
    "jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
    "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0, "intervals": [],
}


def _p95_ms(lat_s: list[float]):
    p = common.tail_percentile(lat_s, 0.95)
    return None if p is None else p * 1e3


def _oracle(n_pages: int, seed: int):
    from uci_searchengine_spark.oracle.oracle import OracleIndex

    return OracleIndex(inputs.base_pages_local(n_pages, seed))


# ------------------------------------------------------------ in-process
class _InProcess:
    """Spark in this process; queries from one caller thread."""

    def __init__(self, run: Run, tag: str):
        self.run = run
        self.work = common.WorkDir(tag)
        self.spark = common.start_spark(self.work)
        self.sc = self.spark.sparkContext
        self.sw = tracing.SparkWork(self.spark)
        self.tracer = tracing.Tracer() if run.trace else None
        self.lat: list[float] = []
        self.traced: list[bool] = []
        self.query_s = 0.0
        self.phase_rounds = 0  # set by the first query phase
        self.rchar = 0
        self.walls: dict[int, float] = {}
        self.reload_ms: list[float] = []
        self.n = 0
        self.steal = [0, 0]

    def build(self, n_pages: int, index_dir: str) -> dict:
        from uci_searchengine_spark.operators.index_build import build_index
        from uci_searchengine_spark.sources.synth import synth_pages

        self.sc.setJobGroup("pb-build", "perfbench build")
        t0 = time.perf_counter()
        build_index(
            self.spark,
            synth_pages(self.spark, n_pages, seed=self.run.seed,
                        partitions=common.cpus()),
            index_dir,
            input_snapshot=f"perfbench-{self.run.seed}",
        )
        build_s = time.perf_counter() - t0
        return tracing.build_layer(index_dir, build_s, self.sw.group("pb-build"))

    def searcher(self, index_dir: str, **kw):
        from uci_searchengine_spark.operators.serving import Searcher

        t0 = time.perf_counter()
        s = Searcher(self.spark, index_dir, **kw)
        self.reload_ms.append((time.perf_counter() - t0) * 1e3)
        return s

    def query(self, searcher, q: str, mode: str) -> dict:
        """One timed search; odd-numbered ones traced in a traced run."""
        traced = self.tracer is not None and self.n % 2 == 1
        self.n += 1
        self.run.attempted += 1
        if self.tracer is None:
            t0 = time.perf_counter()
            env = searcher.search(q, mode=mode)
            dt = time.perf_counter() - t0
        else:
            with self.tracer.request(traced) as req:
                self.sc.setJobGroup(f"pb-q{req}" if traced else "pb-u", "query")
                t0 = time.perf_counter()
                env = searcher.search(q, mode=mode)
                dt = time.perf_counter() - t0
            if traced:
                self.walls[req] = dt
        self.lat.append(dt)
        self.traced.append(traced)
        return env

    def query_phase(self, searcher, pool, start: int, seconds: float):
        """Whole rounds of distinct pool queries, one per query shape,
        from ``pool[start:]``. The run's first phase runs at least one
        round, and another while it would end nearer ``seconds`` with it
        than without it (at the mean round time so far), so every run
        asks the same mix and the phase lasts about ``seconds``; later
        phases run as many rounds as the first, so each index state
        weighs the same in the run's medians. Returns ([(query, mode,
        envelope)], next start)."""
        out = []
        rc0, st0 = common.rchar_total(os.getpid()), common.cpu_ticks()
        t0 = time.perf_counter()
        i = start
        rounds = 0
        while rounds < (self.phase_rounds or 1) or (
            not self.phase_rounds
            and (time.perf_counter() - t0) * (rounds + 0.5) / rounds <= seconds
        ):
            for _ in range(len(inputs.TEMPLATES)):
                q, mode = pool[i]
                i += 1
                out.append((q, mode, self.query(searcher, q, mode)))
            rounds += 1
        self.phase_rounds = rounds
        self.query_s += time.perf_counter() - t0
        self.rchar += common.rchar_total(os.getpid()) - rc0
        st1 = common.cpu_ticks()
        self.steal = [self.steal[k] + st1[k] - st0[k] for k in (0, 1)]
        return out, i

    def layers(self) -> dict:
        if self.tracer is None:
            return {}
        ids = sorted(self.walls)
        tracing.print_table(tracing.layer_table(self.tracer.spans), len(ids))
        out = tracing.query_layers(self.tracer.spans, self.walls)
        out.update(
            tracing.spark_layers(
                [self.sw.group(f"pb-q{r}") for r in ids],
                [self.walls[r] * 1e3 for r in ids],
            )
        )
        out["serving.reload_ms"] = common.median(self.reload_ms)
        out["trace.overhead_ms"] = _overhead(self.lat, self.traced)
        jvm = common.jvm_pid(os.getpid())
        out["proc.jvm_peak_rss_mb"] = common.peak_rss_mb(jvm) if jvm else 0.0
        return out

    def e2e_queries(self) -> dict:
        return {
            **_latency_metrics(self.lat, self.query_s),
            "read_kb_per_query": self.rchar / 1024 / max(len(self.lat), 1),
            "python_peak_rss_mb": common.peak_rss_mb(os.getpid()),
        }

    def close(self) -> None:
        try:
            common.stop_spark(self.spark)
        finally:
            self.work.close()


# ----------------------------------------------------------- ingest_serve
def _live_docs(index_dir: str) -> dict[str, int]:
    """url → doc id of every live (not tombstoned) doc in the index."""
    import pyarrow.dataset as pads

    from uci_searchengine_spark.operators.index_build import generation_dirs
    from uci_searchengine_spark.operators.tombstones import load_tombstone_ids

    dead = set(load_tombstone_ids(index_dir).tolist())
    out: dict[str, int] = {}
    for d in generation_dirs(index_dir):
        tbl = pads.dataset(os.path.join(d, "docs"), format="parquet").to_table(
            columns=["doc_id", "url"]
        )
        for did, url in zip(tbl["doc_id"].to_pylist(), tbl["url"].to_pylist()):
            if did not in dead:
                out[url] = did
    return out


def ingest_serve(run: Run):
    import numpy as np

    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.merge import merge_generations
    from uci_searchengine_spark.operators.tombstones import (
        delete_docs,
        load_tombstone_ids,
    )
    from uci_searchengine_spark.schema import PAGES_SCHEMA

    ip = _InProcess(run, "ingest_serve")
    rounds = []  # per round: (delta rows, deleted urls, envelopes, probes)
    plans = set()
    try:
        if ip.tracer is not None:
            # the distributed plan runs the per-bucket closure in Python
            # workers, so only the driver-side layers are wrapped
            tracing.install_serving(ip.tracer, per_bucket=False)
        index_dir = ip.work.sub("index")
        setup_s = time.time() - run.t_start
        layers = ip.build(inputs.INGEST_BASE_PAGES, index_dir)
        common.log(f"built ({layers['index_build.build_s']:.1f}s)")
        pool = inputs.query_pool(run.seed)
        phase_s = run.seconds / (inputs.ROUNDS + 1)
        pos = 0
        append_s = delete_ms = 0.0
        appended = upsert_tombs = append_jobs = 0
        rng = np.random.default_rng([run.seed, 5])
        for r in range(inputs.ROUNDS):
            live = _live_docs(index_dir)
            delta = inputs.delta_pages(run.seed, r, sorted(live))
            df = ip.spark.createDataFrame(delta, schema=PAGES_SCHEMA)
            tombs0 = load_tombstone_ids(index_dir).size
            ip.sc.setJobGroup(f"pb-append{r}", "perfbench append")
            t0 = time.perf_counter()
            append_index(ip.spark, df, index_dir, input_snapshot=f"pb{run.seed}r{r}")
            append_s += time.perf_counter() - t0
            run.attempted += 1
            appended += len(delta)
            upsert_tombs += load_tombstone_ids(index_dir).size - tombs0
            append_jobs += ip.sw.group(f"pb-append{r}")["jobs"]

            live = _live_docs(index_dir)
            urls = sorted(live)
            gone = [urls[i] for i in rng.choice(len(urls), inputs.DELTA_DELETES, replace=False)]
            t0 = time.perf_counter()
            delete_docs(index_dir, [live[u] for u in gone])
            delete_ms += (time.perf_counter() - t0) * 1e3
            run.attempted += 1

            searcher = ip.searcher(index_dir, local_bytes_limit=0)
            envs, pos = ip.query_phase(searcher, pool, pos, phase_s)
            plans.add(searcher.last_plan)
            probes = []
            for rr in range(r + 1):  # untimed property probes
                for m in (f"nwmark{rr}", f"upmark{rr}"):
                    probes.append((m, searcher.search(m, per_page=50)))
                    run.attempted += 1
            rounds.append((delta, gone, envs, probes))
            common.log(f"round {r} done")

        n_live = len(_live_docs(index_dir))
        excluded = load_tombstone_ids(index_dir).size
        merged_dir = ip.work.sub("merged")
        ip.sc.setJobGroup("pb-merge", "perfbench merge")
        t0 = time.perf_counter()
        merged = merge_generations(ip.spark, index_dir, merged_dir)
        merge_s = time.perf_counter() - t0
        run.attempted += 1
        merge_work = ip.sw.group("pb-merge")
        searcher = ip.searcher(merged_dir, local_bytes_limit=0)
        final, pos = ip.query_phase(searcher, pool, pos, phase_s)
        plans.add(searcher.last_plan)
        common.log(f"merged ({merge_s:.1f}s) and queried")

        e2e = {"setup_s": setup_s, **ip.e2e_queries()}
        merged_bytes = common.dir_bytes(merged_dir)
        layers.update(ip.layers())
        layers.update(
            {
                "index_append.append_s": append_s,
                "index_append.docs_per_s": appended / append_s,
                "index_append.upsert_tombstones": upsert_tombs,
                "index_append.spark_jobs": append_jobs,
                "tombstones.delete_ms": delete_ms / inputs.ROUNDS,
                "tombstones.excluded_ids": excluded,
                "merge.merge_s": merge_s,
                "merge.docs_per_s": n_live / merge_s,
                "merge.bytes_written_mb": merged_bytes / 2**20,
                "merge.spark_tasks": merge_work["tasks"],
            }
        )
        if ip.tracer is not None:
            ip.tracer.dump(run.spans_path("ingest_serve") + ".spans.gz")
    finally:
        ip.close()

    common.log("spark stopped; checking answers")
    run.check(plans == {"spark"}, f"query phases ran on the {sorted(plans)} plans")
    oracle, swaps = _check_ingest(run, rounds, final, merged.n_docs)
    e2e["index_bytes_per_text_byte"] = merged_bytes / _text_bytes(oracle)
    e2e["build_docs_per_s"] = inputs.INGEST_BASE_PAGES / layers["index_build.build_s"]
    extra = {
        "query_p95_ms": _p95_ms(ip.lat),
        "queries": len(ip.lat),
        "append_docs_per_s": layers["index_append.docs_per_s"],
        "merge_docs_per_s": layers["merge.docs_per_s"],
        "tie_order_swaps": swaps,
        "host_steal_share": common.steal_share((0, 0), tuple(ip.steal)),
    }
    return e2e, layers, extra


def _check_ingest(run: Run, rounds, final, merged_n_docs: int):
    """Replay the rounds over the generated pages: during each round no
    deleted or superseded version is served and each delta's marker term
    finds exactly that delta's live docs; after the merge every answer
    equals the oracle's over the live pages."""
    from uci_searchengine_spark.functions.tokenize import tokenize_py
    from uci_searchengine_spark.oracle.oracle import OracleIndex, dedup_pages

    pages = dedup_pages(inputs.base_pages_local(inputs.INGEST_BASE_PAGES, run.seed))
    latest = {r.url: r for r in pages.itertuples(index=False)}
    marked: set[str] = set()  # the markers only ever enter through deltas
    for rnd, (delta, gone, envs, probes) in enumerate(rounds):
        for row in delta.itertuples(index=False):
            latest[row.url] = row
            marked.add(row.url)
        for u in gone:
            latest.pop(u, None)
        for q, mode, env in envs:
            _check_live(run, rnd, q, env, latest)
        for marker, env in probes:
            _check_live(run, rnd, marker, env, latest)
            want = {
                u for u in marked
                if u in latest and marker in tokenize_py(latest[u].text)
            }
            got = [x["url"] for x in env["results"]]
            run.check(
                env["total_results"] == len(want) and set(got) <= want
                and (len(want) > len(got) or set(got) == want),
                f"round {rnd} {marker}: {env['total_results']} hits, "
                f"{len(want)} live docs carry it",
            )
    import pandas as pd

    live = pd.DataFrame(list(latest.values()))
    oracle = OracleIndex(live)
    run.check(
        merged_n_docs == oracle.n_docs,
        f"merged n_docs {merged_n_docs} != {oracle.n_docs} live pages",
    )
    # the merged index keeps its own doc ids, so its ties need not follow
    # the oracle's (url) order
    return oracle, _check_answers(
        run, final, oracle, "after merge: ", tie_order=False
    )


def _check_live(run: Run, rnd: int, q: str, env: dict, latest: dict) -> None:
    urls = [x["url"] for x in env["results"]]
    run.check(len(set(urls)) == len(urls), f"round {rnd} {q!r}: a url twice")
    for x in env["results"]:
        row = latest.get(x["url"])
        if row is None:
            run.check(False, f"round {rnd} {q!r}: deleted {x['url']} served")
        elif x["snippet"] != oracle_check.oracle_snippet(row.text, q):
            run.check(False, f"round {rnd} {q!r}: stale version of {x['url']}")


WORKLOADS = {
    "serve_local": serve_local,
    "ingest_serve": ingest_serve,
}
