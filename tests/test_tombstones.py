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


@pytest.mark.spark
class TestBucketedTombstones:
    """Past DRIVER_CAP no driver array is shipped: the top-k scorers
    cogroup the bucketed tombstone relation, and the search envelope's
    range tasks read the tombstone files with a doc_id range filter —
    results must be identical on every query path. Exercised by lowering
    the cap to 1 (any delete set of ≥2 ids takes those paths)."""

    @pytest.fixture()
    def low_cap(self):
        from uci_searchengine_spark.operators import tombstones

        old = tombstones.DRIVER_CAP
        tombstones.DRIVER_CAP = 1
        yield
        tombstones.DRIVER_CAP = old

    def test_load_excl_switches_to_bucketed(self, spark, index_tomb, low_cap):
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import BucketedExcl, load_excl

        delete_docs(index_tomb, [0, 1])
        meta = IndexMeta.load(index_tomb)
        e = load_excl(index_tomb, spark, meta.bucket_size)
        assert isinstance(e, BucketedExcl)
        # the cogroup relation is built only when a scorer consumes it
        assert "df" not in vars(e)
        assert sorted(r.doc_id for r in e.df.collect()) == [0, 1]
        # without spark, caller still gets the exact driver array
        import numpy as np

        arr = load_excl(index_tomb)
        assert isinstance(arr, np.ndarray) and arr.tolist() == [0, 1]

    def test_all_paths_match_driver_array(self, spark, index_tomb, oracle_small, low_cap):
        """or / and / phrase / boolean / filtered: cogrouped exclusion
        (folded into the allowed set by anti-join under a filter) ≡
        driver-array exclusion ≡ oracle-minus-deleted; envelope and
        site: envelope: tombstone files read per range by the
        distributed plan's tasks ≡ the driver array on the local plan."""
        from uci_searchengine_spark.operators import tombstones
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.filtered import filtered_topk
        from uci_searchengine_spark.operators.phrase import phrase_search
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import score_wand

        q = "stop0 arbak"
        full = oracle_small.top_k(q, 10**6)
        deleted = {full[0][0], full[1][0], full[5][0]}
        delete_docs(index_tomb, deleted)
        exp = _minus(full, deleted)
        # a host holding a deleted doc, and every other doc id
        url = oracle_small.urls[full[0][0]]
        host = url.split("://")[1].split("/")[0].lower()
        allowed = spark.createDataFrame(
            [(d,) for d in range(oracle_small.n_docs) if d % 2 == 0],
            "doc_id long",
        )

        plans = []

        def run_all():
            out = {}
            out["or"] = [
                (r["doc_id"], round(r["score"], 9))
                for r in score_wand(spark, index_tomb, q, 10).collect()
            ]
            out["and"] = [
                (r["doc_id"], round(r["score"], 9))
                for r in score_wand(spark, index_tomb, q, 10, mode="and").collect()
            ]
            out["phrase"] = [
                (r["doc_id"], r["n_occ"])
                for r in phrase_search(spark, index_tomb, "arbak stop1", 10).collect()
            ]
            out["bool"] = [
                (r["doc_id"], round(r["score"], 9))
                for r in boolean_search(
                    spark, index_tomb, "+arbak stop1 -stop9", 10
                ).collect()
            ]
            s = Searcher(spark, index_tomb)
            env = s.search(q, per_page=5)
            out["env"] = (env["total_results"], [r["url"] for r in env["results"]])
            env = s.search(f"{q} site:{host}")
            out["site"] = (env["total_results"], env["results"])
            plans.append(s.last_plan)
            out["filtered"] = [
                (r["doc_id"], round(r["score"], 9))
                for r in filtered_topk(spark, index_tomb, q, allowed, 10).collect()
            ]
            return out

        cog = run_all()  # DRIVER_CAP=1 → cogrouped path
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
        tombstones.DRIVER_CAP = 10_000_000
        arr = run_all()  # normal driver-array path
        assert cog == arr
        assert plans == ["spark", "local"]
