"""Steadiness check: the same code measured as separate sets of runs.

    python3 perfbench/steady.py [--sets 2] [--runs 10] [--gap-minutes 5]
                                [--readme]

Each set runs every workload of BENCHMARK.json once per seed at its
``run_seconds`` (seeds 1..runs for set 1, 101.. for set 2, and so on),
one run at a time, untraced. Per metric and set it reports the median
and quartiles (``statistics.quantiles(n=4)``), the quartile spread as a
share of the median, and the set-to-set change of the median. Results go to ``.perfbench_out/steady-<time>.json``; with
``--readme`` the table replaces the one between the STEADINESS markers
in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import common

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.monotonic()
    p = subprocess.run(
        cmd, cwd=common.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.monotonic() - t0
    extra = [ln for ln in lines if ln.startswith(f"perfbench {workload}")]
    res["extra"] = json.loads(extra[-1].split(": ", 1)[1]) if extra else {}
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def table(results: dict, bench: dict) -> str:
    """Markdown: one row per workload × metric, columns per set."""
    sets = sorted(results)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    head = "| workload | metric | bound |"
    rule = "|---|---|---:|"
    for s in sets:
        head += f" set {s} median [q1, q3] | spread |"
        rule += "---:|---:|"
    if len(sets) > 1:
        head += " change |"
        rule += "---:|"
    rows = [head, rule]
    for wl in bench["workloads"]:
        name = wl["name"]
        for m in bench["end_to_end"]:
            key = m["name"]
            row = f"| {name} | {key} ({m['unit']}) | {bounds[key]} |"
            meds = []
            for s in sets:
                vals = [r["metrics"][key]["value"] for r in results[s][name]]
                st = summarize(vals)
                meds.append(st["median"])
                row += (
                    f" {st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] |"
                    f" {st['spread']:.3f} |"
                )
            if len(sets) > 1:
                row += f" {(meds[-1] - meds[0]) / meds[0]:+.3f} |"
            rows.append(row)
    return "\n".join(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--gap-minutes", type=float, default=5.0)
    ap.add_argument("--readme", action="store_true")
    args = ap.parse_args()
    bench = common.bench_spec()
    names = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    os.makedirs(common.OUT_ROOT, exist_ok=True)
    out = os.path.join(common.OUT_ROOT, f"steady-{int(time.time())}.json")
    results: dict[int, dict[str, list]] = {}
    for s in range(1, args.sets + 1):
        if s > 1:
            time.sleep(args.gap_minutes * 60)
        results[s] = {n: [] for n in names}
        for i in range(args.runs):
            seed = (s - 1) * 100 + i + 1
            for n in names:
                r = run_once(n, seed, seconds)
                results[s][n].append(r)
                print(
                    f"set {s} {n} seed {seed}: correct={r['correct']} "
                    f"failed={r['failed']}/{r['attempted']} "
                    f"wall={r['wall_s']:.1f}s",
                    flush=True,
                )
                with open(out, "w") as f:  # kept current, so a cut run keeps its data
                    json.dump({"seconds": seconds, "results": results}, f)
    md = table(results, bench)
    print(md)
    print(f"results: {out}")
    if args.readme:
        path = os.path.join(HERE, "README.md")
        with open(path) as f:
            text = f.read()
        a, b = "<!-- STEADINESS:BEGIN -->", "<!-- STEADINESS:END -->"
        head, rest = text.split(a, 1)
        _, tail = rest.split(b, 1)
        with open(path, "w") as f:
            f.write(f"{head}{a}\n{md}\n{b}{tail}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
