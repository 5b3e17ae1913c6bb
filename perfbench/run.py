"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 10 --trace 0

Runs one workload (serve_local or ingest_serve) from the
root of a checkout, checks every answer against the numpy oracle and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the spans to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys

import common

def main(argv=None) -> int:
    t_start = common.process_start_time()
    # SIGTERM unwinds like an exception, so the server, the JVM and the
    # work dir are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True,
        choices=["serve_local", "ingest_serve"],
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    common.require_engine()
    spec = common.bench_spec()

    import oracle_check
    import tracing
    import workloads

    oracle_check.selftest()
    run = workloads.Run(args, t_start)
    e2e, layers, extra = workloads.WORKLOADS[args.workload](run)
    common.log("checked")

    print(f"perfbench {args.workload} seed={args.seed}: {json.dumps(extra)}")
    for e in run.errors:
        print(f"CHECK FAILED: {e}")
    if args.trace:
        print(f"{'layer metric':40s} value")
        for name, value in sorted(layers.items()):
            print(f"{name:40s} {value:.4f}")
        metrics = tracing.per_layer_metrics(layers, spec["per_layer"])
    else:
        metrics = {
            m["name"]: common.metric(e2e[m["name"]], m["unit"])
            for m in spec["end_to_end"]
        }
    common.emit(not run.errors, run.attempted, run.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
