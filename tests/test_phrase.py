"""Phrase search: JVM HOF count vs the Python reference, and the
segment-path match-then-verify operator vs the single-node oracle."""

import math

import pytest

from uci_searchengine_spark.functions.phrase import count_phrase_py

PHRASES = [
    "stop0 stop1",       # common bigram
    "arbak stop1",       # query used in the OR tests, as a phrase
    "stop0",             # single-token phrase == AND == term match
    "arband arbast",     # rare pair
    "stop0 stop0",       # repeated-token phrase (overlap counting)
    "zzzznotaword stop0",  # absent head term → empty
    "!!! ...",           # tokenizes to nothing → empty
]


def test_count_phrase_py_overlap():
    assert count_phrase_py(list("ababa"), ["a", "b", "a"]) == 2  # overlapping
    assert count_phrase_py(["x"], ["x", "y"]) == 0
    assert count_phrase_py([], ["x"]) == 0
    assert count_phrase_py(["x", "y"], []) == 0


@pytest.mark.spark
class TestPhrase:
    def test_phrase_count_col_matches_py(self, spark):
        """JVM HOF == Python reference on crafted rows incl. edge cases."""
        import pandas as pd
        from pyspark.sql import functions as F

        from uci_searchengine_spark.functions.phrase import phrase_count_col

        rows = [
            ["a", "b", "a", "b", "a"],
            ["a"],
            [],
            ["b", "a"],
            ["a", "b"],
            ["x", "a", "b", "x", "a", "b"],
        ]
        seq = ["a", "b"]
        df = spark.createDataFrame(
            pd.DataFrame({"i": range(len(rows)), "t": rows})
        )
        got = {
            r["i"]: r["n"]
            for r in df.select(
                "i", phrase_count_col(F.col("t"), seq).alias("n")
            ).collect()
        }
        for i, toks in enumerate(rows):
            assert got[i] == count_phrase_py(toks, seq), (i, toks)

    @pytest.mark.parametrize("phrase", PHRASES)
    def test_phrase_search_matches_oracle(
        self, spark, index_small, oracle_small, phrase
    ):
        from uci_searchengine_spark.operators.phrase import phrase_search

        expected = oracle_small.top_k_phrase(phrase, 10)
        got = [
            (r["doc_id"], r["score"], r["n_occ"])
            for r in phrase_search(spark, index_small, phrase, 10).collect()
        ]
        assert len(got) == len(expected), (phrase, got, expected)
        for (gd, gs, gn), (ed, es, en) in zip(got, expected):
            assert gd == ed and gn == en, (phrase, got, expected)
            assert math.isclose(gs, es, rel_tol=1e-9), (phrase, gd, gs, es)


@pytest.mark.spark
class TestPositionalPhrase:
    def test_meta_flag(self, index_positional):
        from uci_searchengine_spark.operators.index_build import IndexMeta

        assert IndexMeta.load(index_positional).positions is True

    @pytest.mark.parametrize("phrase", PHRASES)
    def test_positional_matches_oracle_and_docstore(
        self, spark, index_positional, oracle_small, phrase
    ):
        """Index-only adjacency == doc-store verify == oracle."""
        from uci_searchengine_spark.operators.phrase import phrase_search

        expected = oracle_small.top_k_phrase(phrase, 10)
        for method in ("positions", "docstore"):
            got = [
                (r["doc_id"], r["score"], r["n_occ"])
                for r in phrase_search(
                    spark, index_positional, phrase, 10, method=method
                ).collect()
            ]
            assert len(got) == len(expected), (method, phrase, got, expected)
            for (gd, gs, gn), (ed, es, en) in zip(got, expected):
                assert gd == ed and gn == en, (method, phrase, got, expected)
                assert math.isclose(gs, es, rel_tol=1e-9)

    def test_bm25_unaffected_by_positions(
        self, spark, index_positional, oracle_small
    ):
        """The positional plane must not change BM25 results, and plain
        scoring must not ship it (column-pruned scan)."""
        from uci_searchengine_spark.operators.wand import score_wand

        q = "stop0 arbak"
        exp = oracle_small.top_k(q, 10)
        got = [
            (r["doc_id"], r["score"])
            for r in score_wand(spark, index_positional, q, 10).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (_, gs), (_, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-9)
        plan = score_wand(spark, index_positional, q, 10)._jdf.queryExecution().executedPlan().toString()
        assert "positions" not in plan, "positional plane not pruned from BM25 scan"
        # the plan holds no scan: the range tasks read the files, and
        # their read drops the plane unless the phrase path asks for it
        from uci_searchengine_spark.operators.index_build import IndexMeta
        from uci_searchengine_spark.operators.wand import _scatter

        meta = IndexMeta.load(index_positional)
        for with_pos in (False, True):
            _cuts, ranges, read = _scatter(
                spark, index_positional, meta, ["stop0", "arbak"], None, with_pos
            )
            seg, _ex = read(*ranges[0])
            assert len(seg)
            assert ("positions" in seg) == ("pos_block_off" in seg) == with_pos


@pytest.mark.spark
def test_positional_phrase_with_seg_split(spark, oracle_small, tmp_path):
    """Positional plane survives the bucket-split stage-2 layout
    (write_partitions > num_shards ⇒ seg_split > 1, fragment-local
    df_global resolved in-plan)."""
    import math as _math

    from uci_searchengine_spark.operators.index_build import (
        IndexMeta,
        build_index,
    )
    from uci_searchengine_spark.operators.phrase import phrase_search
    from uci_searchengine_spark.sources.synth import synth_pages

    from tests.conftest import N_SMALL, SEED

    d = str(tmp_path / "idx_split_pos")
    pages = synth_pages(spark, N_SMALL, SEED, partitions=7)
    build_index(
        spark,
        pages,
        d,
        num_shards=4,
        n_buckets=4,
        write_partitions=8,
        input_snapshot="split+pos",
        positions=True,
    )
    assert IndexMeta.load(d).seg_split > 1
    for phrase in ("arbak stop1", "arband arbast"):
        exp = oracle_small.top_k_phrase(phrase, 10)
        got = [
            (r["doc_id"], r["score"], r["n_occ"])
            for r in phrase_search(spark, d, phrase, 10, method="positions").collect()
        ]
        assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in exp]
        for g, e in zip(got, exp):
            assert _math.isclose(g[1], e[1], rel_tol=1e-9)


def test_positions_codec_roundtrip():
    """Block-level pack/unpack round-trip of the positional plane."""
    import numpy as np

    from uci_searchengine_spark import BLOCK_SIZE
    from uci_searchengine_spark.operators.codec import (
        pack_many_raw,
        pack_positions_raw,
        unpack_positions,
        unpack_postings,
    )

    rng = np.random.default_rng(7)
    pos_lists, doc_ids, tfs, dls, gstarts = [], [], [], [], []
    idx = 0
    for _ in range(5):
        gstarts.append(idx)
        n = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(10_000, size=n, replace=False))
        for d in docs:
            tf = int(rng.integers(1, 6))
            pos_lists.append(np.sort(rng.choice(500, size=tf, replace=False)))
            doc_ids.append(d)
            tfs.append(tf)
            dls.append(100)
            idx += 1
    doc_ids, tfs = np.array(doc_ids), np.array(tfs)
    gstarts = np.array(gstarts)
    raw = pack_many_raw(doc_ids, tfs, np.array(dls), gstarts, avgdl=100.0)
    praw = pack_positions_raw(
        np.concatenate(pos_lists), tfs, gstarts, raw["blk_bounds"], raw["block_start"]
    )
    enc, penc = raw["enc"].tobytes(), praw["enc"].tobytes()
    counts = raw["counts"]
    for gi in range(len(gstarts)):
        mblob = enc[raw["group_bytes"][gi] : raw["group_bytes"][gi + 1]]
        pblob = penc[praw["group_bytes"][gi] : praw["group_bytes"][gi + 1]]
        b0, b1 = raw["blk_bounds"][gi], raw["blk_bounds"][gi + 1]
        for bi in range(b1 - b0):
            lo = bi * BLOCK_SIZE
            hi = min(lo + BLOCK_SIZE, counts[gi])
            _d, t, _l = unpack_postings(
                mblob, offset=int(raw["block_off"][b0 + bi]), count=hi - lo
            )
            pf, ro = unpack_positions(
                pblob, t, offset=int(praw["block_off"][b0 + bi])
            )
            for j in range(hi - lo):
                assert np.array_equal(
                    pos_lists[gstarts[gi] + lo + j], pf[ro[j] : ro[j + 1]]
                )
