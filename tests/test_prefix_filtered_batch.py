"""Prefix (wildcard) queries, filter-context search, and batch query
evaluation — each pinned against the single-node oracle / the already-
oracle-pinned single-query scorer."""

import math

import pytest
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.batch_eval import batch_topk
from uci_searchengine_spark.operators.filtered import filtered_topk
from uci_searchengine_spark.operators.prefix import (
    expand_prefix,
    parse_wildcards,
    prefix_search,
)
from uci_searchengine_spark.operators.wand import score_wand


def _oracle_vocab(oracle):
    return {t: len(p) for t, p in oracle.postings.items()}


def _pick_prefix(oracle, min_terms=3):
    """A 3-char prefix that several vocab terms share (data-derived so the
    test tracks the synth corpus)."""
    from collections import Counter

    c = Counter(t[:3] for t in oracle.postings if len(t) >= 3)
    pref, n = c.most_common(1)[0]
    assert n >= min_terms, f"synth vocab too flat for prefix test ({n})"
    return pref


def _oracle_topk_terms(oracle, terms, k=10):
    """OR-sum BM25 top-k for an explicit term list (expansion already
    applied) — mirrors prefix_search's disjunctive rewrite."""
    scores = {}
    for t in dict.fromkeys(terms):
        plist = oracle.postings.get(t)
        if not plist:
            continue
        w = oracle.idf(t)
        for d, tf in plist.items():
            dl = oracle.doc_len[d]
            tf_part = tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / oracle.avgdl))
            scores[d] = scores.get(d, 0.0) + w * tf_part
    kept = [(d, s) for d, s in scores.items() if s > 0]
    return sorted(kept, key=lambda kv: (-kv[1], kv[0]))[:k]


def test_parse_wildcards():
    lits, prefs = parse_wildcards("data SPARK* x yz*")
    assert lits == ["data", "x"]
    assert prefs == ["spark", "yz"]
    # a bare star / mid-token star is not a prefix pattern
    lits, prefs = parse_wildcards("* a*b c")
    assert prefs == []
    assert lits == ["*", "a*b", "c"]


def test_expand_prefix_matches_vocab(spark, index_small, oracle_small):
    pref = _pick_prefix(oracle_small)
    vocab = _oracle_vocab(oracle_small)
    want_all = sorted(
        (t for t in vocab if t.startswith(pref)),
        key=lambda t: (-vocab[t], t),
    )
    got = expand_prefix(spark, index_small, pref, max_expansions=10**6)
    assert got == want_all
    # the cap truncates in (df desc, term asc) order
    got2 = expand_prefix(spark, index_small, pref, max_expansions=2)
    assert got2 == want_all[:2]


def test_prefix_search_vs_oracle(spark, index_small, oracle_small):
    pref = _pick_prefix(oracle_small)
    vocab = _oracle_vocab(oracle_small)
    expanded = sorted(
        (t for t in vocab if t.startswith(pref)), key=lambda t: (-vocab[t], t)
    )[:50]
    # one literal term + one wildcard
    want = _oracle_topk_terms(oracle_small, ["stop0"] + expanded, k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in prefix_search(spark, index_small, f"stop0 {pref}*", k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), (gd, gs, ws)


def test_prefix_search_no_match_prefix(spark, index_small):
    # unknown prefix + no literals -> empty, no crash
    assert prefix_search(spark, index_small, "zzzzqq*", k=5).count() == 0


def test_filtered_topk_vs_oracle(spark, index_small, oracle_small):
    query = "stop0 arbak"
    allowed_ids = [d for d in range(oracle_small.n_docs) if d % 3 == 0]
    allowed = spark.createDataFrame([(d,) for d in allowed_ids], "doc_id long")
    scores = oracle_small.score(query)
    want = sorted(
        ((d, s) for d, s in scores.items() if d % 3 == 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in filtered_topk(spark, index_small, query, allowed, k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    # filtered scores equal the unfiltered scores of the same docs
    # (filter context never changes the score)
    unfiltered = dict(
        (r["doc_id"], r["score"])
        for r in score_wand(spark, index_small, query, k=1000).collect()
    )
    for gd, gs in got:
        assert math.isclose(gs, unfiltered[gd], rel_tol=1e-12)


def test_filtered_topk_uncoalesced_shuffle(spark, index_small, oracle_small):
    """The allowed relation's bucket key meets the segments' int bucket
    column in one cogroup: with the shuffle left at all its partitions
    (an allowed set past the coalescing target), both sides must hash
    the same key type, or a bucket's allowed ids reach another task."""
    query = "stop0 arbak"
    allowed = spark.range(0, oracle_small.n_docs, 3).select(
        F.col("id").alias("doc_id")
    )
    want = sorted(
        ((d, s) for d, s in oracle_small.score(query).items() if d % 3 == 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = filtered_topk(spark, index_small, query, allowed, k=10).collect()
    finally:
        spark.conf.set(key, old)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_filtered_topk_and_mode(spark, index_small, oracle_small):
    query = "stop0 arbak"
    allowed_ids = [d for d in range(oracle_small.n_docs) if d % 2 == 0]
    allowed = spark.createDataFrame([(d,) for d in allowed_ids], "doc_id long")
    want = [
        (d, s) for d, s in oracle_small.top_k_and(query, k=10**9) if d % 2 == 0
    ][:10]
    got = [
        (r["doc_id"], r["score"])
        for r in filtered_topk(
            spark, index_small, query, allowed, k=10, mode="and"
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)


def test_filtered_topk_empty_filter(spark, index_small):
    allowed = spark.createDataFrame([], "doc_id long")
    assert filtered_topk(spark, index_small, "stop0", allowed, k=5).count() == 0


def test_filtered_beats_postfilter(spark, index_small, oracle_small):
    """The reason the filter must mask at accumulation time: restrict to
    docs OUTSIDE the unfiltered top-k, and the filtered result must still
    surface them (a post-filter of the top-k would return nothing)."""
    query = "stop0"
    unfiltered = [d for d, _ in oracle_small.top_k(query, k=10)]
    scores = oracle_small.score(query)
    outside = [d for d in scores if d not in set(unfiltered)]
    if not outside:
        pytest.skip("corpus too small: every match is in the top-10")
    allowed = spark.createDataFrame([(d,) for d in outside], "doc_id long")
    want = sorted(
        ((d, scores[d]) for d in outside), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in filtered_topk(spark, index_small, query, allowed, k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_batch_topk_equals_single(spark, index_small):
    queries = {
        "q1": "stop0 arbak",
        "q2": "arband arbast",
        "q3": "stop0 stop1 arbak",
        "q4": "zzzzqq",  # no hits
    }
    for mode in ("or", "and"):
        batch = batch_topk(spark, index_small, queries, k=10, mode=mode).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q in queries.items():
            single = [
                (r["doc_id"], r["score"])
                for r in score_wand(spark, index_small, q, k=10, mode=mode).collect()
            ]
            got = by_q.get(qid, [])
            assert [d for d, _ in got] == [d for d, _ in single], (mode, qid)
            for (gd, gs), (sd, ss) in zip(got, single):
                assert math.isclose(gs, ss, rel_tol=1e-12), (mode, qid, gd)


def test_filtered_respects_tombstones(spark, index_small, oracle_small, tmp_path):
    """Tombstoned docs stay out even when the filter allows them."""
    import shutil

    from uci_searchengine_spark.operators.tombstones import delete_docs

    idx2 = str(tmp_path / "idx_tomb")
    shutil.copytree(index_small, idx2)
    query = "stop0"
    top = [d for d, _ in oracle_small.top_k(query, k=3)]
    delete_docs(idx2, top[:1])
    allowed = spark.createDataFrame(
        [(d,) for d in range(oracle_small.n_docs)], "doc_id long"
    )
    got = [r["doc_id"] for r in filtered_topk(spark, idx2, query, allowed, k=10).collect()]
    assert top[0] not in got
    scores = oracle_small.score(query)
    want = sorted(
        ((d, s) for d, s in scores.items() if d != top[0]),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert got == [d for d, _ in want]


def test_searcher_wildcard_envelope(spark, index_small, oracle_small):
    """The resident Searcher accepts `stem*` queries: both plans agree,
    and the envelope equals typing the expansions by hand."""
    from uci_searchengine_spark.operators.serving import Searcher

    pref = _pick_prefix(oracle_small)
    s = Searcher(spark, index_small)
    q = f"stop0 {pref}*"
    env_local = s.search(q, plan="local")
    assert s.last_plan == "local"
    env_spark = s.search(q, plan="spark")
    assert s.last_plan == "spark"
    assert env_local["total_results"] == env_spark["total_results"] > 0
    assert env_local["results"] == env_spark["results"]

    vocab = _oracle_vocab(oracle_small)
    expanded = sorted(
        (t for t in vocab if t.startswith(pref)), key=lambda t: (-vocab[t], t)
    )[:50]
    manual = s.search("stop0 " + " ".join(expanded), plan="spark")
    assert manual["total_results"] == env_spark["total_results"]
    assert manual["results"] == env_spark["results"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="wildcard"):
        s.search(q, mode="and")


def test_expand_prefix_local_equals_spark(spark, index_small):
    from uci_searchengine_spark.operators.local_search import vocab_local
    from uci_searchengine_spark.operators.prefix import (
        expand_prefix,
        expand_prefix_local,
    )

    v = vocab_local(index_small)
    for pref, cap in [("arb", 50), ("arb", 7), ("stop", 50), ("zzqq", 50)]:
        loc = expand_prefix_local(
            v["term"].to_numpy(), v["df"].to_numpy(), pref, cap
        )
        sp = expand_prefix(spark, index_small, pref, cap)
        assert loc == sp, (pref, cap)


def test_searcher_site_filter(spark, index_small, oracle_small):
    """Google-style `site:host` query operator: envelope restricted to
    one host, totals exact, scores unchanged."""
    from collections import Counter
    from urllib.parse import urlparse

    from uci_searchengine_spark.operators.serving import Searcher

    s = Searcher(spark, index_small)
    q = "stop0"
    scores = oracle_small.score(q)
    host_of = {d: urlparse(oracle_small.urls[d]).netloc for d in scores}
    host = Counter(host_of.values()).most_common(1)[0][0]
    in_host = {d for d, h in host_of.items() if h == host}
    want = sorted(
        ((d, sc) for d, sc in scores.items() if d in in_host),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    env = s.search(f"{q} site:{host}")
    assert s.last_plan == "local"  # fits the task-local budget here
    env_spark = s.search(f"{q} site:{host}", plan="spark")
    assert s.last_plan == "spark"
    assert env_spark == env  # plan equality, envelope-for-envelope
    assert env["total_results"] == len(in_host)
    assert [r["url"] for r in env["results"]] == [
        oracle_small.urls[d] for d, _ in want
    ]
    for r, (d, sc) in zip(env["results"], want):
        assert math.isclose(r["score"], sc, rel_tol=1e-12)

    # two hosts OR together
    host2 = next(h for h in host_of.values() if h != host)
    in_2 = {d for d, h in host_of.items() if h in (host, host2)}
    env2 = s.search(f"{q} site:{host} site:{host2}")
    assert env2["total_results"] == len(in_2)

    # unknown host -> zero hits
    env3 = s.search(f"{q} site:no.such.host.example")
    assert env3["total_results"] == 0 and env3["results"] == []


def test_searcher_site_plus_wildcard(spark, index_small, oracle_small):
    """site: composes with wildcard expansion (filter over the expanded
    disjunction)."""
    from collections import Counter
    from urllib.parse import urlparse

    from uci_searchengine_spark.operators.serving import Searcher

    pref = _pick_prefix(oracle_small)
    vocab = _oracle_vocab(oracle_small)
    expanded = sorted(
        (t for t in vocab if t.startswith(pref)), key=lambda t: (-vocab[t], t)
    )[:50]
    full = {d: s for d, s in _oracle_topk_terms(oracle_small, expanded, k=10**9)}
    host_of = {d: urlparse(oracle_small.urls[d]).netloc for d in full}
    host = Counter(host_of.values()).most_common(1)[0][0]
    in_host = {d for d, h in host_of.items() if h == host}
    want = sorted(
        ((d, s) for d, s in full.items() if d in in_host),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    s_ = Searcher(spark, index_small)
    env = s_.search(f"{pref}* site:{host}")
    assert env["total_results"] == len(in_host)
    assert [r["url"] for r in env["results"]] == [
        oracle_small.urls[d] for d, _ in want
    ]


def test_batch_topk_shared_decode_equality(spark, index_small):
    """decode='shared' (one decode per bucket, exhaustive scoring in the
    same upper-bound float order) == the pruned per-query path, doc for
    doc and score for score."""
    queries = {
        "q1": "stop0 arbak",
        "q2": "arband arbast stop0",
        "q3": "stop1 arbak arband",
    }
    a = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in batch_topk(spark, index_small, queries, k=10).collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in batch_topk(
            spark, index_small, queries, k=10, decode="shared"
        ).collect()
    )
    assert a == b  # bit-equal by shared accumulation order

    import pytest as _pytest

    with _pytest.raises(ValueError, match="shared"):
        batch_topk(spark, index_small, queries, mode="and", decode="shared")


def test_batch_topk_auto_decode(spark, index_small, oracle_small):
    """decode='auto' measures the batch's df-weighted term overlap per
    bucket and picks the winning strategy itself: the overlapping bench
    sweep lands in the shared regime, a disjoint batch stays per-query
    — and because both strategies are bit-equal, auto equals both on
    ANY batch (pinned here on both shapes)."""
    import itertools

    from uci_searchengine_spark.operators.batch_eval import (
        DECODE_AUTO_THRESHOLD,
        decode_multiplicity,
    )

    df = {t: len(p) for t, p in oracle_small.postings.items()}
    # bench shape 1: 20 combinations over 6 terms — heavy overlap
    terms6 = ["stop0", "stop1", "stop2", "arbak", "arband", "arbast"]
    overlapping = {
        f"q{i}": " ".join(c)
        for i, c in enumerate(itertools.combinations(terms6, 3))
    }
    qt_overlap = {q: s.split() for q, s in overlapping.items()}
    assert decode_multiplicity(qt_overlap, df) >= DECODE_AUTO_THRESHOLD
    # bench shape 2: few queries, disjoint terms — per-query regime
    disjoint = {"q1": "arbak", "q2": "arband", "q3": "stop0"}
    qt_disjoint = {q: s.split() for q, s in disjoint.items()}
    assert decode_multiplicity(qt_disjoint, df) < DECODE_AUTO_THRESHOLD
    # empty/unknown-term batches degrade to 1.0 (per-query)
    assert decode_multiplicity({"q": ["zzznotaterm"]}, df) == 1.0

    for queries in (overlapping, disjoint):
        want = sorted(
            (r["query_id"], r["doc_id"], r["score"])
            for r in batch_topk(spark, index_small, queries, k=10).collect()
        )
        got = sorted(
            (r["query_id"], r["doc_id"], r["score"])
            for r in batch_topk(
                spark, index_small, queries, k=10, decode="auto"
            ).collect()
        )
        assert got == want
    # auto under AND resolves to per-query instead of erroring
    a = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in batch_topk(
            spark, index_small, disjoint, k=10, mode="and", decode="auto"
        ).collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in batch_topk(
            spark, index_small, disjoint, k=10, mode="and"
        ).collect()
    )
    assert a == b


def test_vocab_plane_expansion(spark, index_small, oracle_small, tmp_path):
    """The sorted terms-dictionary plane serves expansions identically
    to the live vocab aggregate; an append invalidates it (stale tag ->
    fallback) until rewritten."""
    import shutil

    from uci_searchengine_spark.operators.prefix import (
        _vocab_plane_fresh,
        vocab_relation,
        write_vocab_plane,
    )
    from uci_searchengine_spark.operators.index_build import IndexMeta

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    pref = _pick_prefix(oracle_small)
    live = expand_prefix(spark, idx, pref, max_expansions=30)
    write_vocab_plane(spark, idx)
    assert _vocab_plane_fresh(idx, IndexMeta.load(idx))
    assert expand_prefix(spark, idx, pref, max_expansions=30) == live
    # the plane relation is the parquet plane (has exactly 2 columns and
    # a pushed StringStartsWith — plan shape asserted in explain_audit)
    rel = vocab_relation(spark, idx)
    assert set(rel.columns) == {"term", "df"}

    # staleness: append a generation -> tag mismatch -> fallback to the
    # live (multi-gen) vocab, expansions reflect the new docs
    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.sources.synth import synth_pages

    extra = synth_pages(spark, 340, 1337, partitions=3).orderBy("url").limit(20)
    # synth overlap: filter to urls NOT already indexed
    from uci_searchengine_spark.operators.index_build import load_docs

    have = {r["url"] for r in load_docs(spark, idx).select("url").collect()}
    extra = extra.filter(~extra["url"].isin(list(have))).limit(10)
    if extra.count() == 0:
        import pytest as _p

        _p.skip("no fresh urls to append")
    append_index(spark, extra, idx, input_snapshot="vp-append")
    meta2 = IndexMeta.load(idx)
    assert not _vocab_plane_fresh(idx, meta2)
    live2 = set(
        r["term"]
        for r in __import__(
            "uci_searchengine_spark.operators.suggest", fromlist=["vocab"]
        ).vocab(spark, idx).filter(f"term like '{pref}%'").collect()
    )
    got2 = set(expand_prefix(spark, idx, pref, max_expansions=10**6))
    assert got2 == live2
    # rewrite -> fresh again, identical expansions
    write_vocab_plane(spark, idx)
    assert _vocab_plane_fresh(idx, meta2)
    assert set(expand_prefix(spark, idx, pref, max_expansions=10**6)) == live2


def test_vocab_plane_refreshed_by_ingest(spark, tmp_path):
    """ingest_round rewrites an existing dictionary plane after the
    append, so prefix pruning survives the ingest loop."""
    from pyspark.sql import functions as F

    from uci_searchengine_spark.operators.index_build import IndexMeta
    from uci_searchengine_spark.operators.lifecycle import ingest_round
    from uci_searchengine_spark.operators.prefix import (
        _vocab_plane_fresh,
        write_vocab_plane,
    )
    from uci_searchengine_spark.registry import IndexRegistry
    from uci_searchengine_spark.sources.synth import synth_pages

    reg = IndexRegistry(str(tmp_path / "reg"))
    pages = synth_pages(spark, 120, 1337, partitions=3)
    urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
    cut = urls[80]
    ingest_round(
        spark, pages.filter(F.col("url") < cut), reg,
        num_shards=4, n_buckets=2, input_snapshot="vp-r0",
    )
    d = reg.path(reg.current())
    write_vocab_plane(spark, d)
    ingest_round(
        spark, pages.filter(F.col("url") >= cut), reg,
        num_shards=4, n_buckets=2, input_snapshot="vp-r1", max_gens=99,
    )
    d2 = reg.path(reg.current())
    assert d2 == d  # no merge at max_gens=99 — same version, now gen-2
    assert _vocab_plane_fresh(d2, IndexMeta.load(d2))
