"""serve_local's server process: build the index, then serve it over HTTP.

    python3 perfbench/server.py --seed N --pages P --work DIR [--spans FILE]

Builds the index from ``synth_pages(spark, P, seed)`` under DIR, starts
``http_api.make_server`` on an ephemeral port, prints one JSON line
(port and build figures) and serves until SIGTERM. With ``--spans`` the
layers are wrapped before ``serve_forever`` and, on SIGTERM, the spans
and each traced request's Spark work are written to FILE.spans.gz and
FILE.spark.json.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

import common


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()
    common.require_engine()
    import tracing

    work = common.WorkDir.attach(args.work)
    spark = common.start_spark(work)
    sc = spark.sparkContext
    from uci_searchengine_spark.http_api import make_server
    from uci_searchengine_spark.operators.index_build import build_index
    from uci_searchengine_spark.sources.synth import synth_pages

    index_dir = work.sub("index")
    sw = tracing.SparkWork(spark)
    sc.setJobGroup("pb-build", "perfbench build")
    t0 = time.perf_counter()
    build_index(
        spark,
        synth_pages(spark, args.pages, seed=args.seed, partitions=common.cpus()),
        index_dir,
        input_snapshot=f"perfbench-{args.seed}",
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    srv = make_server(spark, index_dir, port=0)
    reload_ms = (time.perf_counter() - t0) * 1e3

    tracer = None
    groups: list[str] = []
    if args.spans:
        tracer = tracing.Tracer()
        tracing.install_serving(tracer, per_bucket=True)

        def tag(req: int) -> None:
            sc.setJobGroup(f"pb-q{req}", "perfbench query")
            groups.append(req)

        tracing.install_http(tracer, srv, on_request=tag)

    signal.signal(
        signal.SIGTERM,
        lambda *_: threading.Thread(target=srv.shutdown, daemon=True).start(),
    )
    parent = os.getppid()

    def orphan_watch() -> None:
        # a client killed outright sends no SIGTERM: stop with it
        while os.getppid() == parent:
            time.sleep(1.0)
        srv.shutdown()

    threading.Thread(target=orphan_watch, daemon=True).start()
    layers = tracing.build_layer(index_dir, build_s, sw.group("pb-build"))
    print(
        json.dumps(
            {
                "port": srv.server_address[1],
                "index_dir": index_dir,
                "build_s": build_s,
                "reload_ms": reload_ms,
                "layers": layers,
            }
        ),
        flush=True,
    )
    srv.serve_forever()
    srv.server_close()
    if tracer is not None:
        tracer.dump(args.spans + ".spans.gz")
        with open(args.spans + ".spark.json", "w") as f:
            json.dump({str(r): sw.group(f"pb-q{r}") for r in groups}, f)
    common.stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
