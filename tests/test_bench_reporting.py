"""The driver parses only the TAIL of bench.py's stdout: the final
JSON line must stay compact (BENCH_r03 went on record as parsed:null
when the line embedded the multi-KB scaling protocol). Pin the digest
shape and size against a detail dict of realistic bulk."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import compact_headline  # noqa: E402


def _full_out():
    out = {
        "metric": "headline_suite_seconds",
        "unit": "sec",
        "sf": "0.1",
        "queries": {f"q{i}": round(0.1 * i, 3) for i in range(30)},
        "build_runs_s": [10.0, 9.5],
        "build_docs_per_sec": 2000.0,
        "build_n_docs": 20000,
        "query_p50_ms": 600.0,
        "query_p95_ms": 700.0,
        "serve_local_p50_ms": 75.0,
        "serve_local_p95_ms": 95.0,
        "value": 68.0,
        # suite_v2 (round 5): rides in the digest, bulk cold-pass stays
        # in the detail file
        "queries_v2": {
            k: 1.234
            for k in (
                "triangles", "label_prop", "federated_search",
                "bm25f_topk", "incremental_dedup", "duplicate_spans",
                "hll_grouped", "percolate_indexed", "reciprocal_knn",
                "ppl_buckets", "funnel", "dsir_select",
            )
        },
        "queries_v2_cold": {"triangles": 9.9},
        "suite_v2_seconds": 14.808,
        "scaling": {
            "n_docs": 100000,
            "docs_per_sec_local2": 2300.0,
            "docs_per_sec_local8": 2000.0,
            "docs_per_sec_local32": 3500.0,
            "n_to_4n": {
                "pair": "local[2] -> local[8]",
                "efficiency": 0.21,
                "definition": "x" * 200,
                "target": 0.8,
                "met": False,
            },
            "efficiency_8_to_32": 0.445,
            "host_ceiling_efficiency_2_to_8": 0.803,
            "efficiency_vs_worst_ceiling_2_to_8": 0.49,
            # the bulk that overflowed the r3 record: per-round lists,
            # control arrays, and protocol prose
            "runs_local2_s": [60.0 + i for i in range(10)],
            "runs_local8_s": [30.0 + i for i in range(10)],
            "runs_local32_s": [20.0 + i for i in range(10)],
            "efficiency_2_to_8_by_round": [0.3] * 10,
            "host_ceiling_runs": {str(c): [1.0] * 10 for c in (2, 8, 32)},
            "host_memceil_runs": {str(c): [0.05] * 10 for c in (2, 8, 32)},
            "probe_history": [{"cpu_eff": 0.9, "mem_eff": 0.6}] * 8,
            "protocol": "p" * 2000,
        },
    }
    return out


def test_compact_headline_small_and_complete():
    out = _full_out()
    c = compact_headline(out)
    line = json.dumps(c)
    # the driver keeps only the LAST 2000 chars of stdout and parses
    # the final JSON line out of that window (measured: BENCH_r04 tail
    # is exactly 2000 chars) — the digest must fit with margin
    assert len(line) < 1950, len(line)
    # bulk never leaks into the digest
    assert "protocol" not in json.dumps(c.get("scaling", {}))
    assert "runs_local2_s" not in c.get("scaling", {})
    assert "probe_history" not in c.get("scaling", {})
    assert "build_runs_s" not in c
    assert "queries_v2_cold" not in c
    # the v2 suite rides in the digest
    assert c["queries_v2"] == out["queries_v2"]
    assert c["suite_v2_seconds"] == 14.808
    # the driver-graded fields survive
    assert c["queries"] == out["queries"]
    assert c["value"] == 68.0
    assert c["scaling"]["n_to_4n"]["met"] is False
    assert c["scaling"]["n_to_4n"]["efficiency"] == 0.21
    assert c["scaling"]["detail"] == "BENCH/bench_detail_latest.json"
    # round-trips as a single JSON line
    assert json.loads(line) == c and "\n" not in line


def test_compact_headline_no_scaling_section():
    out = _full_out()
    del out["scaling"]
    c = compact_headline(out)
    assert "scaling" not in c
    assert c["queries"] == out["queries"]


def test_scaling_levels_follow_the_host(monkeypatch):
    """N = max(1, CPUS // 4) and 4N = CPUS, with CPUS read the way
    get_spark reads it (SPARK_GRAFT_CPUS, else the host's count)."""
    import importlib

    import bench

    assert bench.scaling_levels(32) == (8, 32)
    assert bench.scaling_levels(8) == (2, 8)
    assert bench.scaling_levels(4) == (1, 4)
    assert bench.scaling_levels(2) == (1, 2)
    assert bench.scaling_levels(1) == (1, 1)
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        importlib.reload(bench)
        assert bench.CPUS == (os.cpu_count() or 1)
        assert (bench.LO, bench.HI) == bench.scaling_levels(bench.CPUS)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
        importlib.reload(bench)
        assert (bench.CPUS, bench.LO, bench.HI, bench.RATIO) == (12, 3, 12, 4.0)
    finally:
        monkeypatch.undo()
        importlib.reload(bench)
