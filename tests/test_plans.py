"""Physical-plan regression guards: the scale properties the engine
depends on must stay visible in the plans (scripts/explain_audit.py is
the human-readable version; this enforces the same checks in CI)."""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in a plan string."""
    return len(re.findall(r"\bExchange\b", plan)) + plan.count("BroadcastExchange")


def _python_nodes(plan: str) -> list[str]:
    """The plan's Python-UDF operator lines (pandas map / grouped map)."""
    return [ln for ln in plan.splitlines() if re.search(r"InPandas\b", ln)]


def _below(plan: str, node: str) -> str:
    """The subtree under the first line holding ``node``: the lines
    after it that are indented deeper than it."""
    lines = plan.splitlines()
    i = next(j for j, ln in enumerate(lines) if node in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" :|+-"))
    out = []
    for ln in lines[i + 1 :]:
        if len(ln) - len(ln.lstrip(" :|+-")) <= depth:
            break
        out.append(ln)
    return "\n".join(out)


@pytest.mark.spark
class TestPlans:
    def test_wand_scan_prunes_shards_and_pushes_terms(self, spark, index_small):
        from uci_searchengine_spark.functions.xxhash import term_shard
        from uci_searchengine_spark.operators.index_build import IndexMeta, load_segments

        meta = IndexMeta.load(index_small)
        shard = term_shard("stop0", meta.num_shards)
        seg = load_segments(spark, index_small).filter(
            F.col("shard").isin([shard]) & F.col("term").isin(["stop0"])
        )
        plan = _plan(seg)
        # partition pruning on the hive shard dir + term filter pushed to parquet
        assert "PartitionFilters" in plan and "shard" in plan
        assert "PushedFilters" in plan and "term" in plan

    def test_wand_topk_is_take_ordered(self, spark, index_small):
        from uci_searchengine_spark.operators.wand import score_wand

        plan = _plan(score_wand(spark, index_small, "stop0 arbak", 10))
        # one Python map stage over the range ids, no Exchange anywhere,
        # the global top-k right over it
        (node,) = _python_nodes(plan)
        assert "MapInPandas" in node
        assert "FlatMap" not in plan
        assert _exchanges(plan) == 0
        assert "TakeOrderedAndProject" in plan
        assert "Range (0, " in _below(plan, "MapInPandas")

    def test_naive_scorer_broadcasts_dfs(self, spark, index_small):
        from uci_searchengine_spark.operators.bm25 import score_naive

        plan = _plan(score_naive(spark, index_small, "stop0 arbak", 10))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "TakeOrderedAndProject" in plan

    def test_revenue_join_broadcasts_and_pushes_filter(self, spark):
        from uci_searchengine_spark.entry_queries import q_revenue_topk

        plan = _plan(q_revenue_topk(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "BUILDING" in plan  # mktsegment predicate pushed into the scan

    def test_pricing_scan_is_column_pruned(self, spark):
        from uci_searchengine_spark.entry_queries import q_pricing_summary

        plan = _plan(q_pricing_summary(spark, SF_DIR))
        assert "l_shipdate" in plan  # predicate pushed
        # projection pruned: untouched wide columns never reach the scan
        assert "l_comment" not in plan and "l_shipmode" not in plan

    def test_attach_docs_prunes_buckets(self, spark, index_small):
        from uci_searchengine_spark.operators.bm25 import attach_docs
        from uci_searchengine_spark.operators.wand import score_wand

        topk = score_wand(spark, index_small, "stop0", 5)
        out = attach_docs(spark, index_small, topk, ["stop0"])
        plan = _plan(out)
        assert "PartitionFilters" in plan and "bucket" in plan


@pytest.fixture(scope="module")
def index_ranked(spark, index_small, tmp_path_factory):
    """Hardlink clone of the fixture index with a doc-values plane."""
    import os
    import shutil

    from uci_searchengine_spark.operators.docvalues import attach_doc_values

    d = str(tmp_path_factory.mktemp("ranked") / "idx")
    shutil.copytree(index_small, d, copy_function=os.link)
    attach_doc_values(
        spark, d,
        spark.range(300).selectExpr(
            "id AS doc_id", "((id * 37) % 101) / cast(101 AS DOUBLE) AS value"
        ),
        "rank",
    )
    return d


def _gate_scorers(spark, idx, other):
    """Each gate top-k scorer over ``idx`` as a zero-arg DataFrame maker."""
    from uci_searchengine_spark.operators.batch_eval import batch_topk
    from uci_searchengine_spark.operators.boolean import boolean_search
    from uci_searchengine_spark.operators.docvalues import (
        blended_topk,
        sort_by_field_topk,
    )
    from uci_searchengine_spark.operators.federate import federated_topk
    from uci_searchengine_spark.operators.filtered import filtered_topk
    from uci_searchengine_spark.operators.phrase import phrase_search
    from uci_searchengine_spark.operators.wand import score_msm, score_wand

    q = "stop0 arbak"
    return {
        "score_wand_or": lambda: score_wand(spark, idx, q, 10),
        "score_wand_and": lambda: score_wand(spark, idx, q, 10, mode="and"),
        "score_msm": lambda: score_msm(spark, idx, "stop0 arbak stop1", 10, 2),
        "phrase_search": lambda: phrase_search(spark, idx, "arbak stop1", 10),
        "boolean_search": lambda: boolean_search(
            spark, idx, "+arbak stop1 -stop9", 10
        ),
        "sort_by_field_topk": lambda: sort_by_field_topk(spark, idx, q, "rank", k=10),
        "blended_topk": lambda: blended_topk(spark, idx, q, "rank", k=10, weight=2.0),
        "federated_topk": lambda: federated_topk(spark, [other, idx], q, k=10),
        "filtered_topk": lambda: filtered_topk(
            spark, idx, q,
            spark.range(300).filter("id % 2 = 0").selectExpr("id AS doc_id"), 10,
        ),
        "batch_topk": lambda: batch_topk(spark, idx, {"a": q, "b": "arbak stop1"}, 5),
    }


# (jobs, stages, Exchanges) per collect on index_small, local[4]: every
# scorer is one Python map stage over the bucket grid's ranges; the
# filter context adds the allowed set's one shuffle, batch_topk its
# per-query window and final sort after the map stage
WORK = {
    "score_wand_or": (1, 1, 0),
    "score_wand_and": (1, 1, 0),
    "score_msm": (1, 1, 0),
    "phrase_search": (1, 1, 0),
    "boolean_search": (1, 1, 0),
    "sort_by_field_topk": (1, 1, 0),
    "blended_topk": (1, 1, 0),
    "federated_topk": (1, 1, 0),
    "filtered_topk": (2, 3, 1),
    "batch_topk": (4, 8, 2),
}


@pytest.mark.spark
@pytest.mark.parametrize("name", list(WORK))
def test_gate_scorer_work_signature(spark, index_small, index_ranked, name):
    """Jobs, stages and Exchanges of one collect of each gate scorer,
    read from the status tracker under one job group; no Exchange
    below the Python stage, and every Python node is the range runner's."""
    from tests.test_tombstones import _group_work

    df = _gate_scorers(spark, index_ranked, index_small)[name]()
    plan = _plan(df)
    rows, jobs, stages = _group_work(spark, f"work-{name}", df.collect)
    assert rows
    assert (jobs, stages, _exchanges(plan)) == WORK[name], plan
    nodes = _python_nodes(plan)
    if name == "filtered_topk":
        # the allowed ids' one shuffle, keyed by range id, feeds the stage
        (node,) = nodes
        assert "FlatMapGroupsInPandas" in node and "rid" in node
        assert _exchanges(_below(plan, "FlatMapGroupsInPandas")) == 1
        return
    assert nodes and all("MapInPandas" in n and "FlatMap" not in n for n in nodes)
    assert _exchanges(_below(plan, "MapInPandas")) == 0
    if name != "batch_topk":
        assert "TakeOrderedAndProject" in plan
