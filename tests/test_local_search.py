"""Task-local serving plan ≡ distributed plan (operators/local_search.py).

The local path runs the SAME per-bucket envelope closure
(wand.make_envelope_fn) over a pyarrow scan of the same pruned files;
these tests pin the full-envelope equality across every index shape
that exercises a different code branch: single-gen, multi-generation
append (gen_avgdl inflation + df re-aggregation), seg_split>1
(fragment-local df), and tombstones (exclusion array)."""

import pytest
from pyspark.sql import functions as F

SEED = 1337
N = 300

QUERIES = [
    ("arbak arbal", "or"),
    ("arbak arbal", "and"),
    ("stop0 arbak page", "or"),
    ("stop0 arbak page", "and"),
    ("arbat", "or"),
    ("zzz-nothere arbak", "or"),
]


def _assert_plans_equal(searcher, extras=()):
    for q, mode in list(QUERIES) + list(extras):
        a = searcher.search(q, mode=mode, plan="spark")
        b = searcher.search(q, mode=mode, plan="local")
        assert a == b, (q, mode, a, b)
    # pagination slices through the same k=page*per_page path
    a = searcher.search("arbak arbal", page=2, per_page=3, plan="spark")
    b = searcher.search("arbak arbal", page=2, per_page=3, plan="local")
    assert a == b


@pytest.mark.spark
class TestLocalSearch:
    def test_envelope_equal_single_gen(self, spark, index_small):
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        _assert_plans_equal(s)

    def test_envelope_equal_multigen(self, spark, tmp_path):
        """Appended index: local path must re-aggregate df across
        generations and carry gen_avgdl for admissible block-max."""
        from uci_searchengine_spark.operators.index_append import append_index
        from uci_searchengine_spark.operators.index_build import build_index
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.sources.synth import synth_pages

        d = str(tmp_path / "idx")
        pages = synth_pages(spark, N, SEED, partitions=5)
        urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
        cut = urls[141]  # unaligned split → shared boundary bucket
        build_index(
            spark, pages.filter(F.col("url") < cut), d,
            num_shards=8, n_buckets=4, input_snapshot="local-gen0",
        )
        append_index(
            spark, pages.filter(F.col("url") >= cut), d,
            input_snapshot="local-gen1",
        )
        s = Searcher(spark, d)
        assert s.meta.gens > 1
        _assert_plans_equal(s)

    def test_envelope_equal_seg_split(self, spark, tmp_path):
        """seg_split>1: fragment-local df rows — the local read must sum
        them exactly like prune_relation's in-plan aggregate."""
        from uci_searchengine_spark.operators.index_build import (
            IndexMeta,
            build_index,
        )
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.sources.synth import synth_pages

        d = str(tmp_path / "idx")
        build_index(
            spark, synth_pages(spark, N, SEED, partitions=5), d,
            num_shards=2, n_buckets=4, write_partitions=8,
            input_snapshot="local-split",
        )
        assert IndexMeta.load(d).seg_split > 1
        s = Searcher(spark, d)
        _assert_plans_equal(s)

    def test_envelope_equal_with_tombstones(self, spark, tmp_path):
        from uci_searchengine_spark.operators.index_build import build_index
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.sources.synth import synth_pages

        d = str(tmp_path / "idx")
        build_index(
            spark, synth_pages(spark, N, SEED, partitions=5), d,
            num_shards=8, n_buckets=4, input_snapshot="local-tomb",
        )
        s0 = Searcher(spark, d)
        victims = [r["doc_id"] for r in s0.top_k("arbak arbal", k=3).collect()]
        delete_docs(d, victims)
        s = Searcher(spark, d)
        a = s.search("arbak arbal", plan="spark")
        b = s.search("arbak arbal", plan="local")
        assert a == b
        assert not {r["url"] for r in a["results"]} & {
            u
            for u, in spark.read.parquet(d + "/docs")
            .filter(F.col("doc_id").isin(victims))
            .select("url")
            .collect()
        }

    def test_auto_plan_policy(self, spark, index_small):
        """auto = bytes-based: tiny fixture index → local; limit 0 →
        distributed; forced plans override."""
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        s.search("arbak")
        assert s.last_plan == "local"
        s2 = Searcher(spark, index_small, local_bytes_limit=0)
        s2.search("arbak")
        assert s2.last_plan == "spark"
        s2.search("arbak", plan="local")
        assert s2.last_plan == "local"
        with pytest.raises(ValueError):
            s.search("arbak", plan="nope")

    def test_zero_hit_did_you_mean_parity(self, spark, index_small):
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        a = s.search("arbakk", plan="spark")  # typo → 0 hits → suggestion
        b = s.search("arbakk", plan="local")
        assert a == b
        assert a["total_results"] == 0
        url = s.search("stop0", plan="local")["results"][0]["url"]
        host = url.split("://")[1].split("/")[0].lower()
        # a boost suffix is no term, and a filter is no term either
        for q in ("arbakk^2", f"arbakk site:{host}"):
            sa = s.search(q, plan="spark")
            sb = s.search(q, plan="local")
            assert sa == sb, q
            assert sa["total_results"] == 0
            assert sa["did_you_mean"] == a["did_you_mean"], q

    def test_pruned_shard_bytes_counts_generations(self, spark, index_small):
        from uci_searchengine_spark.operators.local_search import (
            pruned_shard_bytes,
        )
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        all_shards = list(range(s.meta.num_shards))
        total = pruned_shard_bytes(index_small, all_shards)
        assert total > 0
        one = pruned_shard_bytes(index_small, all_shards[:1])
        assert 0 < one < total

    @pytest.mark.parametrize(
        "word", ["arbakk", "arbk", "stp0", "xyzzy", "ab", "pagee"]
    )
    def test_suggest_local_equals_spark(self, spark, index_small, word):
        from uci_searchengine_spark.operators.local_search import (
            VocabIndex,
            suggest_local,
            vocab_local,
        )
        from uci_searchengine_spark.operators.suggest import suggest

        v = VocabIndex(vocab_local(index_small))
        a = [
            (r["term"], r["df"], r["dist"])
            for r in suggest(spark, index_small, word).collect()
        ]
        b = [(r["term"], r["df"], r["dist"]) for r in suggest_local(v, word)]
        assert a == b

    def test_suggest_query_local_equals_spark(self, spark, index_small):
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.local_search import (
            VocabIndex,
            suggest_query_local,
            vocab_local,
        )
        from uci_searchengine_spark.operators.suggest import suggest_query

        meta = IndexMeta.load(index_small)
        v = VocabIndex(vocab_local(index_small))
        for q in ["arbakk arbal", "xyzzy", "arbak", "arbakk stp0"]:
            assert suggest_query(spark, index_small, q) == suggest_query_local(
                index_small, meta, q, v
            ), q


BOOL_QUERIES = [
    "stop0 arbak",                 # pure OR
    "stop0 -arbak",                # OR + NOT
    "+arbak stop1",                # MUST + OR
    "+arband +arbast",             # pure MUST (AND)
    'stop0 "arbak stop1"',         # phrase + OR
    '"arband arbast" -stop2',      # phrase + NOT
    "-stop0",                      # no positives → empty
    "+zzzznotaword stop1",         # absent MUST → empty
]

PHRASES = ["arbak stop1", "arband arbast", "stop0 stop0", "zzz nothere"]


def _bool_rows(df):
    return [{"doc_id": r["doc_id"], "score": r["score"]} for r in df.collect()]


def _phrase_rows(df):
    return [
        {"doc_id": r["doc_id"], "score": r["score"], "n_occ": r["n_occ"]}
        for r in df.collect()
    ]


@pytest.mark.spark
class TestLocalBooleanPhrase:
    """boolean/phrase task-local twins ≡ the distributed plans — the
    same shared per-bucket closures (boolean.make_boolean_fn /
    phrase.make_phrase_fn) merged in-process."""

    @pytest.mark.parametrize("query", BOOL_QUERIES)
    def test_boolean_local_equals_spark(self, spark, index_small, query):
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.local_search import (
            boolean_topk_local,
        )

        meta = IndexMeta.load(index_small)
        a = _bool_rows(boolean_search(spark, index_small, query, 10))
        b = boolean_topk_local(index_small, meta, query, 10)
        assert a == b, query

    @pytest.mark.parametrize("query", [q for q in BOOL_QUERIES if '"' in q])
    def test_boolean_local_positional(self, spark, index_positional, query):
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.local_search import (
            boolean_topk_local,
        )

        meta = IndexMeta.load(index_positional)
        a = _bool_rows(
            boolean_search(
                spark, index_positional, query, 10, phrase_method="positions"
            )
        )
        b = boolean_topk_local(
            index_positional, meta, query, 10, phrase_method="positions"
        )
        assert a == b, query

    @pytest.mark.parametrize("phrase", PHRASES)
    def test_phrase_local_equals_spark(self, spark, index_small, phrase):
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.local_search import (
            phrase_topk_local,
        )
        from uci_searchengine_spark.operators.phrase import phrase_search

        meta = IndexMeta.load(index_small)
        a = _phrase_rows(phrase_search(spark, index_small, phrase, 10))
        b = phrase_topk_local(index_small, meta, phrase, 10)
        assert a == b, phrase

    @pytest.mark.parametrize("phrase", PHRASES)
    def test_phrase_local_positional(self, spark, index_positional, phrase):
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.local_search import (
            phrase_topk_local,
        )
        from uci_searchengine_spark.operators.phrase import phrase_search

        meta = IndexMeta.load(index_positional)
        a = _phrase_rows(
            phrase_search(spark, index_positional, phrase, 10, method="positions")
        )
        b = phrase_topk_local(
            index_positional, meta, phrase, 10, method="positions"
        )
        assert a == b, phrase

    def test_multigen_and_tombstones(self, spark, tmp_path):
        """Appended index + tombstones: boundary-bucket union semantics
        and the exclusion array must flow through the local twins."""
        from uci_searchengine_spark.operators.boolean import boolean_search
        from uci_searchengine_spark.operators.index_append import append_index
        from uci_searchengine_spark.operators.index_build import (
            IndexMeta,
            build_index,
        )
        from uci_searchengine_spark.operators.local_search import (
            boolean_topk_local,
            phrase_topk_local,
        )
        from uci_searchengine_spark.operators.phrase import phrase_search
        from uci_searchengine_spark.operators.tombstones import delete_docs
        from uci_searchengine_spark.operators.wand import load_excl
        from uci_searchengine_spark.sources.synth import synth_pages

        d = str(tmp_path / "idx")
        pages = synth_pages(spark, N, SEED, partitions=5)
        urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
        cut = urls[141]
        build_index(
            spark, pages.filter(F.col("url") < cut), d,
            num_shards=8, n_buckets=4, input_snapshot="lbp-gen0",
        )
        append_index(
            spark, pages.filter(F.col("url") >= cut), d,
            input_snapshot="lbp-gen1",
        )
        meta = IndexMeta.load(d)
        assert meta.gens > 1
        q = '+arbak "arbak stop1" -stop2'
        a = _bool_rows(boolean_search(spark, d, q, 10))
        assert a  # non-trivial fixture
        victims = [a[0]["doc_id"]]
        delete_docs(d, victims)
        meta = IndexMeta.load(d)
        excl = load_excl(d)
        for query in BOOL_QUERIES + [q]:
            x = _bool_rows(boolean_search(spark, d, query, 10))
            y = boolean_topk_local(d, meta, query, 10, excl=excl)
            assert x == y, query
            assert victims[0] not in {r["doc_id"] for r in y}
        for phrase in PHRASES:
            x = _phrase_rows(phrase_search(spark, d, phrase, 10))
            y = phrase_topk_local(d, meta, phrase, 10, excl=excl)
            assert x == y, phrase

    def test_searcher_rows_plan_choice(self, spark, index_small):
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        a = s.boolean_rows('+arbak stop1 -stop2', plan="spark")
        assert s.last_plan == "spark"
        b = s.boolean_rows('+arbak stop1 -stop2', plan="auto")
        assert s.last_plan == "local"  # tiny fixture fits the local budget
        assert a == b
        p = s.phrase_rows("arbak stop1", plan="spark")
        q = s.phrase_rows("arbak stop1", plan="auto")
        assert s.last_plan == "local"
        assert p == q and p


@pytest.mark.spark
class TestDocstoreGuard:
    def test_docstore_verify_respects_budget(self, spark, index_small):
        """auto plan for DOC-STORE-verified phrase/boolean: the local
        choice must also fit the doc store (its verify cost follows
        candidate docs, not pruned segment bytes); a budget between the
        two sizes forces the distributed plan for phrase but keeps the
        envelope local."""
        from uci_searchengine_spark.operators.local_search import (
            pruned_shard_bytes,
        )
        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.operators.wand import _shards_for_terms

        s0 = Searcher(spark, index_small)
        seg_bytes = pruned_shard_bytes(
            index_small,
            sorted(set(_shards_for_terms(
                ["arbak", "stop1"], s0.meta.num_shards
            ).values())),
        )
        ds_bytes = s0._docstore_bytes()
        assert seg_bytes < ds_bytes  # precondition of the fixture
        budget = (seg_bytes + ds_bytes) // 2
        s = Searcher(spark, index_small, local_bytes_limit=budget)
        # envelope: segment-bytes check only → local
        s.search("arbak")
        assert s.last_plan == "local"
        # phrase (docstore method on this index): guard → distributed
        s.phrase_rows("arbak stop1")
        assert s.last_plan == "spark"
        # forced local still honored (explicit override)
        s.phrase_rows("arbak stop1", plan="local")
        assert s.last_plan == "local"
        # boolean without phrases: no doc-store verify → local
        s.boolean_rows("+arbak stop1")
        assert s.last_plan == "local"
        # boolean WITH a phrase: guard applies
        s.boolean_rows('+arbak "arbak stop1"')
        assert s.last_plan == "spark"


class TestQueryCache:
    def test_cache_hit_and_tombstone_invalidation(self, spark, index_small, tmp_path):
        """Identical requests hit the envelope cache; a tombstone write
        flushes it and the next envelope reflects the delete."""
        import shutil

        from uci_searchengine_spark.operators.serving import Searcher
        from uci_searchengine_spark.operators.tombstones import delete_docs

        idx = str(tmp_path / "idx")
        shutil.copytree(index_small, idx)
        s = Searcher(spark, idx)
        e1 = s.search("stop0 arbak")
        assert s.cache_hits == 0
        e2 = s.search("stop0 arbak")
        assert s.cache_hits == 1 and e2 == e1
        # different page -> different key, no false hit
        s.search("stop0 arbak", page=2)
        assert s.cache_hits == 1
        # delete the top hit -> cache flushed, fresh envelope differs
        import re

        top_url = e1["results"][0]["url"]
        from uci_searchengine_spark.operators.index_build import load_docs

        top_id = (
            load_docs(spark, idx)
            .filter(f"url = '{top_url}'")
            .collect()[0]["doc_id"]
        )
        delete_docs(idx, [top_id])
        e3 = s.search("stop0 arbak")
        assert s.cache_hits == 1  # miss (flushed)
        assert e3["results"][0]["url"] != top_url
        assert e3["total_results"] == e1["total_results"] - 1

    def test_cache_hit_restores_last_plan(self, spark, index_small):
        """A cache hit restores the plan that produced the stored
        envelope, so /api/health's last_plan describes the request just
        served — regression: hits used to leave last_plan at whatever
        the last UNCACHED query set it to."""
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        s.search("stop0 arbak", plan="local")
        assert s.last_plan == "local"
        # different query on the spark plan moves last_plan
        s.search("stop1", plan="spark")
        assert s.last_plan == "spark"
        # cache hit on the first query restores its recorded plan
        s.search("stop0 arbak", plan="local")
        assert s.cache_hits == 1
        assert s.last_plan == "local"

    def test_cache_disabled(self, spark, index_small):
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small, query_cache=0)
        s.search("stop0")
        s.search("stop0")
        assert s.cache_hits == 0

    def test_cache_returns_defensive_copies(self, spark, index_small):
        from uci_searchengine_spark.operators.serving import Searcher

        s = Searcher(spark, index_small)
        e1 = s.search("stop0 arbak")
        e1["results"].clear()  # caller mutates their copy
        e1["total_results"] = -1
        e2 = s.search("stop0 arbak")
        assert s.cache_hits == 1
        assert e2["total_results"] > 0 and e2["results"]
