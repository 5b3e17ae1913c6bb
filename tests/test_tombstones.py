"""Soft deletes: every query path drops tombstoned docs while corpus
statistics stay frozen (Lucene-shaped semantics) — so surviving docs
keep their exact oracle scores."""

import math
import os
import shutil

import pytest


@pytest.fixture()
def index_tomb(index_small, tmp_path):
    """Hardlink clone of the fixture index, safe to tombstone."""
    d = str(tmp_path / "idx_tomb")
    shutil.copytree(index_small, d, copy_function=os.link)
    return d


def _minus(expected, deleted, k=10):
    return [(d, s) for d, s in expected if d not in deleted][:k]


@pytest.mark.spark
class TestTombstones:
    def test_scorers_drop_deleted_keep_scores(
        self, spark, index_tomb, oracle_small
    ):
        from uci_searchengine_spark.operators.bm25 import score_naive
        from uci_searchengine_spark.operators.tombstones import (
            clear_tombstones,
            delete_docs,
        )
        from uci_searchengine_spark.operators.wand import score_wand

        q = "stop0 arbak"
        full = oracle_small.top_k(q, 10**6)
        deleted = {full[0][0], full[2][0], full[10][0]}
        n = delete_docs(index_tomb, deleted)
        assert n == 3
        exp = _minus(full, deleted)
        for scorer in (score_naive, score_wand):
            got = [
                (r["doc_id"], r["score"])
                for r in scorer(spark, index_tomb, q, 10).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in exp], scorer.__name__
            for (_, gs), (_, es) in zip(got, exp):
                assert math.isclose(gs, es, rel_tol=1e-9)
        clear_tombstones(index_tomb)
        got = [
            (r["doc_id"], r["score"])
            for r in score_wand(spark, index_tomb, q, 10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in full[:10]]

    def test_envelope_phrase_boolean_respect_tombstones(
        self, spark, index_tomb, oracle_small
    ):
        from uci_searchengine_spark.operators.bm25 import search
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.phrase import phrase_search
        from uci_searchengine_spark.operators.tombstones import delete_docs

        q = "arbak stop1"
        ph = oracle_small.top_k_phrase(q, 10**6)
        assert ph
        deleted = {ph[0][0]}
        delete_docs(index_tomb, deleted)

        got = [
            (r["doc_id"], r["score"], r["n_occ"])
            for r in phrase_search(spark, index_tomb, q, 10).collect()
        ]
        exp = [(d, s, n) for d, s, n in ph if d not in deleted][:10]
        assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in exp]

        bexp = [
            (d, s)
            for d, s in oracle_small.boolean_top_k("+arbak stop1", 10**6)
            if d not in deleted
        ][:10]
        bgot = [
            (r["doc_id"], r["score"])
            for r in boolean_search(spark, index_tomb, "+arbak stop1", 10).collect()
        ]
        assert [d for d, _ in bgot] == [d for d, _ in bexp]

        env_total = search(spark, index_tomb, q, per_page=3)["total_results"]
        full_total = len(oracle_small.top_k(q, 10**6))
        assert env_total == full_total - len(deleted)


def _group_work(spark, gid, action):
    """(action's result, jobs, stages) of running ``action`` under Spark
    job group ``gid``, read from the status tracker after the listener
    bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        out = action()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(gid)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return out, len(jobs), stages


@pytest.mark.spark
class TestBucketedTombstones:
    """Past DRIVER_CAP no driver array is shipped: every range task of
    the distributed plans (the envelope and the top-k scorers' map
    stage) reads its own doc-id range of the tombstone files — and
    results must be identical on every query path. Exercised by
    lowering the cap to 1 (any delete set of ≥2 ids takes those
    paths)."""

    @pytest.fixture()
    def low_cap(self):
        from uci_searchengine_spark.operators import tombstones

        old = tombstones.DRIVER_CAP
        tombstones.DRIVER_CAP = 1
        yield
        tombstones.DRIVER_CAP = old

    def test_load_excl_switches_to_bucketed(self, index_tomb, low_cap):
        import pickle

        import numpy as np

        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import BucketedExcl, load_excl

        meta = IndexMeta.load(index_tomb)
        bs = meta.bucket_size
        deleted = [0, 1, bs - 1, bs, 2 * bs + 3, meta.n_docs - 1]
        delete_docs(index_tomb, deleted[:3])
        delete_docs(index_tomb, deleted[2:])  # a duplicate across files
        e = load_excl(index_tomb, bs)
        assert isinstance(e, BucketedExcl)
        # plain values: a task closure ships it, not a relation
        e2 = pickle.loads(pickle.dumps(e))
        assert (e2.index_dir, e2.bucket_size) == (index_tomb, bs)
        for lo, hi in ((0, bs), (bs, 2 * bs), (1, bs), (2 * bs, 3 * bs),
                       (3 * bs + 1, meta.n_docs), (0, meta.n_docs),
                       (bs + 1, 2 * bs + 3), (5, 5)):
            got = e2.ids(lo, hi)
            assert got.dtype == np.int64
            assert got.tolist() == sorted(d for d in set(deleted) if lo <= d < hi)
        # without bucket_size, caller still gets the exact driver array
        arr = load_excl(index_tomb)
        assert isinstance(arr, np.ndarray) and arr.tolist() == sorted(set(deleted))

    def test_is_deleted_reads_one_id(self, index_tomb):
        from uci_searchengine_spark.operators.tombstones import (
            delete_docs,
            is_deleted,
        )

        assert not is_deleted(index_tomb, 0)
        delete_docs(index_tomb, [3, 80])
        assert [d for d in range(120) if is_deleted(index_tomb, d)] == [3, 80]

    def test_range_reads_over_row_groups(self, index_tomb):
        """delete_docs writes one row group per bucket; a range read is
        exact over such a file and over a file whose one row group spans
        several buckets."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uci_searchengine_spark.operators.index_build import IndexMeta, footer
        from uci_searchengine_spark.operators.tombstones import (
            _files,
            delete_docs,
            load_tombstone_ids,
        )

        meta = IndexMeta.load(index_tomb)
        bs, n = meta.bucket_size, meta.n_docs
        new = [1, bs - 1, bs + 2, 2 * bs, n - 1]
        delete_docs(index_tomb, new)
        (f,) = _files(index_tomb)
        by_bucket = {}
        for d in new:
            by_bucket.setdefault(d // bs, []).append(d)
        assert footer(f).ranges("doc_id") == [
            (min(v), max(v)) for _, v in sorted(by_bucket.items())
        ]
        old = [0, bs - 1, bs + 5, 2 * bs + 1]
        one = os.path.join(index_tomb, "tombstones", "tomb-one-group.parquet")
        pq.write_table(pa.table({"doc_id": np.array(old, dtype=np.int64)}), one)
        assert len(footer(one).ranges("doc_id")) == 1
        every = set(new) | set(old)
        for lo, hi in ((0, bs), (bs, 2 * bs), (2 * bs, 3 * bs), (1, bs + 3),
                       (bs + 3, 2 * bs + 1), (0, n), (n - 1, n), (7, 7)):
            got = load_tombstone_ids(index_tomb, lo, hi)
            assert got.tolist() == sorted(d for d in every if lo <= d < hi)

    def test_score_wand_plan_has_no_cogroup(
        self, spark, index_tomb, oracle_small, low_cap
    ):
        """Past the cap score_wand keeps the driver-array plan's shape —
        one Python map stage over the range ids, no grouped or cogrouped
        Python node, no Exchange — and its collect runs as many jobs and
        stages as the driver-array run."""
        from uci_searchengine_spark.operators import tombstones
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import score_wand

        q = "stop0 arbak"
        full = oracle_small.top_k(q, 10**6)
        delete_docs(index_tomb, {full[0][0], full[1][0], full[5][0]})

        def run(tag):
            df = score_wand(spark, index_tomb, q, 10)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows, jobs, stages = _group_work(
                spark, f"tomb-plan-{tag}", lambda: df.collect()
            )
            return plan, [(r["doc_id"], r["score"]) for r in rows], jobs, stages

        plan_cap, rows_cap, jobs_cap, stages_cap = run("cap")
        tombstones.DRIVER_CAP = 10_000_000
        plan_arr, rows_arr, jobs_arr, stages_arr = run("arr")
        from tests.test_plans import _exchanges, _python_nodes

        assert "FlatMapCoGroupsInPandas" not in plan_cap
        for plan in (plan_cap, plan_arr):
            (node,) = _python_nodes(plan)
            assert "MapInPandas" in node and "FlatMap" not in node
            assert _exchanges(plan) == 0
        assert rows_cap == rows_arr
        assert (jobs_cap, stages_cap) == (jobs_arr, stages_arr)

    def test_all_paths_match_driver_array(
        self, spark, index_tomb, index_small, oracle_small, low_cap
    ):
        """Every consumer of the exclusion set — or / and / msm /
        phrase / boolean / filtered / blended / decay / sort-by-field /
        batch / more-like-this / federated top-k, envelope and site:
        envelope (each range task reads its range's tombstones) —
        answers at DRIVER_CAP=1 exactly as with the driver array, which
        is oracle-minus-deleted."""
        from uci_searchengine_spark.operators import tombstones
        from uci_searchengine_spark.operators.batch_eval import batch_topk
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.docvalues import (
            attach_doc_values,
            blended_topk,
            decay_topk,
            sort_by_field_topk,
        )
        from uci_searchengine_spark.operators.federate import federated_topk
        from uci_searchengine_spark.operators.filtered import filtered_topk
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.mlt import more_like_this
        from uci_searchengine_spark.operators.phrase import phrase_search
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import score_msm, score_wand

        q = "stop0 arbak"
        q3 = "stop0 arbak stop1"
        full = oracle_small.top_k(q, 10**6)
        deleted = {full[0][0], full[1][0], full[5][0]}
        # a reader that ignores the bucket must miss some of them
        bs = IndexMeta.load(index_tomb).bucket_size
        assert len({d // bs for d in deleted}) > 1
        delete_docs(index_tomb, deleted)
        exp = _minus(full, deleted)
        attach_doc_values(
            spark, index_tomb,
            spark.range(oracle_small.n_docs).selectExpr(
                "id AS doc_id", "((id * 37) % 101) / cast(101 AS DOUBLE) AS value"
            ),
            "rank",
        )
        # a host holding a deleted doc, and every other doc id
        url = oracle_small.urls[full[0][0]]
        host = url.split("://")[1].split("/")[0].lower()
        allowed = spark.createDataFrame(
            [(d,) for d in range(oracle_small.n_docs) if d % 2 == 0],
            "doc_id long",
        )
        mlt_src = full[3][0]

        plans = []

        def ranked(df, *cols):
            return [
                tuple(round(r[c], 9) if c == "score" else r[c] for c in cols)
                for r in df.collect()
            ]

        def run_all():
            out = {}
            out["or"] = ranked(score_wand(spark, index_tomb, q, 10), "doc_id", "score")
            out["and"] = ranked(
                score_wand(spark, index_tomb, q, 10, mode="and"), "doc_id", "score"
            )
            out["msm"] = ranked(
                score_msm(spark, index_tomb, q3, 10, min_should_match=2),
                "doc_id", "score",
            )
            out["phrase"] = ranked(
                phrase_search(spark, index_tomb, "arbak stop1", 10), "doc_id", "n_occ"
            )
            out["bool"] = ranked(
                boolean_search(spark, index_tomb, "+arbak stop1 -stop9", 10),
                "doc_id", "score",
            )
            out["blended"] = ranked(
                blended_topk(spark, index_tomb, q, "rank", k=10, weight=2.0),
                "doc_id", "score",
            )
            out["decay"] = ranked(
                decay_topk(spark, index_tomb, q, "rank", origin=0.5, scale=0.2, k=10),
                "doc_id", "score",
            )
            out["sort"] = ranked(
                sort_by_field_topk(spark, index_tomb, q, "rank", k=10),
                "doc_id", "value",
            )
            out["batch"] = sorted(
                ranked(
                    batch_topk(spark, index_tomb, {"a": q, "b": "arbak stop1"}, 5),
                    "query_id", "doc_id", "score",
                )
            )
            out["mlt"] = ranked(
                more_like_this(spark, index_tomb, mlt_src, k=10), "doc_id", "score"
            )
            out["fed"] = ranked(
                federated_topk(spark, [index_tomb, index_small], q, k=10),
                "index_id", "doc_id", "score",
            )
            s = Searcher(spark, index_tomb)
            env = s.search(q, per_page=5)
            out["env"] = (env["total_results"], [r["url"] for r in env["results"]])
            env = s.search(f"{q} site:{host}")
            out["site"] = (env["total_results"], env["results"])
            plans.append(s.last_plan)
            out["filtered"] = ranked(
                filtered_topk(spark, index_tomb, q, allowed, 10), "doc_id", "score"
            )
            return out

        cog = run_all()  # DRIVER_CAP=1 → per-task tombstone reads
        assert [d for d, _ in cog["or"]] == [d for d, _ in exp]
        assert [d for d, _ in cog["filtered"]] == [
            d for d, _ in _minus(full, deleted, 10**9) if d % 2 == 0
        ][:10]
        in_host = {
            d
            for d, _ in _minus(full, deleted, 10**9)
            if oracle_small.urls[d].split("://")[1].split("/")[0].lower() == host
        }
        assert cog["site"][0] == len(in_host)
        for name in ("msm", "blended", "decay", "sort", "batch", "mlt"):
            assert cog[name], name
            assert not deleted & {r[-2] for r in cog[name]}, name
        assert mlt_src not in {d for d, _ in cog["mlt"]}
        assert {(i, d) for i, d, _ in cog["fed"]} & {(1, d) for d in deleted}
        assert not {(i, d) for i, d, _ in cog["fed"]} & {(0, d) for d in deleted}
        tombstones.DRIVER_CAP = 10_000_000
        arr = run_all()  # normal driver-array path
        assert cog == arr
        assert plans == ["spark", "local"]
