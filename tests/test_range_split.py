"""Range-split differential test of the search envelope.

The distributed plan (``wand.topk_count_docs``) scatters the bucket grid
over n contiguous ranges, one task each; the task-local plan
(``local_search.local_topk_count_docs``) scores the whole pruned frame
as one range. On a two-generation index with upserts, tombstones (the
driver array, and past ``DRIVER_CAP`` the tombstone files read per
range), ``site:`` and range filters, boosts and the or/and modes, both
plans at n ∈ {1, 2, 3, #buckets} and ``oracle/oracle.py`` must return
identical doc ids, ``==`` scores and identical totals.

The oracle holds every physical document of both generations (the
superseded versions too: like Lucene, the engine's corpus statistics
keep counting tombstoned docs) and scores with the index's own blended
avgdl, summing each doc's terms in the engine's accumulation order —
(w desc, term asc) for or, rarest first (df asc, term asc) for and — so
the scores are bit-equal, not just close.
"""

import math

import numpy as np
import pandas as pd
import pytest

SEED = 4242
N = 240

# three or more terms whose weight order differs from their block-max
# order: a sum taken in another order than (w desc, term asc) differs
# in the last bit for many of their docs
QUERIES = [
    ("stop0 arbak", "or"),
    ("arbak arbal stop1", "or"),
    ("arbar page arbas", "or"),
    ("arbar page arbav stop8", "or"),
    ("arbar page stop2", "and"),
    ("stop0 arbak", "and"),
    ("arbak^3 stop0 arbal^0.5", "or"),
    ("stop1 stop0^2", "and"),
    ("stop0 arbak site:HOST", "or"),
    ("stop0 arbak rank:[0.2 TO 0.7]", "or"),
    ("stop1 arbal site:HOST rank:[* TO 0.8}", "or"),
    ("stop0^2 stop1 rank:{0.1 TO *]", "and"),
]


def _doc_urls(index_dir):
    """(generation dir, doc_id, url) of every physical doc in the index."""
    import os

    import pyarrow.dataset as pads

    from uci_searchengine_spark.operators.index_build import generation_dirs

    out = []
    for g, d in enumerate(generation_dirs(index_dir)):
        t = pads.dataset(os.path.join(d, "docs"), partitioning="hive").to_table(
            columns=["doc_id", "url"]
        )
        ids, urls = t["doc_id"].to_pylist(), t["url"].to_pylist()
        out += [(g, i, u) for i, u in zip(ids, urls)]
    return out


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """build → append (fresh pages + upserts) → delete → doc values."""
    from uci_searchengine_spark.functions.extract import extract_one
    from uci_searchengine_spark.operators.docvalues import attach_doc_values
    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.index_build import IndexMeta, build_index
    from uci_searchengine_spark.operators.tombstones import delete_docs
    from uci_searchengine_spark.oracle.oracle import OracleIndex, dedup_pages
    from uci_searchengine_spark.schema import PAGES_SCHEMA
    from uci_searchengine_spark.sources.synth import gen_rows, synth_pages_local

    d = str(tmp_path_factory.mktemp("range_split") / "idx")
    base = dedup_pages(synth_pages_local(N, SEED))
    build_index(
        spark, spark.createDataFrame(base, schema=PAGES_SCHEMA), d,
        num_shards=4, n_buckets=4, input_snapshot="rs-gen0",
    )
    # the delta: 60 fresh pages, and 20 live urls re-sent with another
    # page's body and a later timestamp (upserts tombstone the old ids)
    fresh = gen_rows(np.arange(N, N + 60), SEED)
    bodies = gen_rows(np.arange(N + 60, N + 80), SEED)
    later = pd.Timestamp("2031-01-01", tz="UTC")
    up = [
        (u, later, b.html, extract_one(bytes(b.html), u)[1], b.lang)
        for b, u in zip(bodies.itertuples(), base["url"].tolist()[5::11])
    ]
    delta = dedup_pages(
        pd.concat(
            [fresh, pd.DataFrame(up, columns=list(fresh.columns))],
            ignore_index=True,
        )
    )
    append_index(
        spark, spark.createDataFrame(delta, schema=PAGES_SCHEMA), d,
        input_snapshot="rs-gen1",
    )
    meta = IndexMeta.load(d)
    docs = _doc_urls(d)
    delete_docs(d, [i for _, i, _ in docs if i % 9 == 4])
    # a range plane that leaves every 5th doc without a value
    vals = [(i, (i * 7919 % 1000) / 1000.0) for _, i, _ in docs if i % 5]
    attach_doc_values(
        spark, d, spark.createDataFrame(vals, "doc_id long, value double"), "rank"
    )
    # the oracle over every physical doc; "#g<gen>" keeps a superseded
    # version apart from its replacement
    eid = {(g, u): i for g, i, u in docs}
    pages = pd.concat(
        [
            base.assign(url=base["url"] + "#g0"),
            delta.assign(url=delta["url"] + "#g1"),
        ],
        ignore_index=True,
    )
    o = OracleIndex(pages)
    assert o.n_docs == meta.n_docs == len(docs)
    assert math.isclose(o.avgdl, meta.avgdl, rel_tol=1e-12)
    o.avgdl = meta.avgdl  # the blended mean the engine scores with
    to_eid = [eid[(int(u[-1]), u[:-3])] for u in o.urls]
    return d, o, to_eid


def _parsed(d, meta):
    """Each of QUERIES parsed as the Searcher parses it: (raw, mode,
    query text, terms, boosts, filters, allowed ids or None)."""
    from uci_searchengine_spark.functions.queryparse import parse_boosts
    from uci_searchengine_spark.operators.bm25 import terms_for_index
    from uci_searchengine_spark.operators.filtered import (
        allowed_ids,
        parse_range_filters,
        parse_site_filters,
        read_authority,
        read_doc_values,
    )

    host = read_authority(d)["authority"].value_counts().index[0]
    for raw, mode in QUERIES:
        q, ranges = parse_range_filters(raw.replace("HOST", host))
        q, hosts = parse_site_filters(q)
        q, raw_boosts = parse_boosts(q)
        terms = terms_for_index(meta, q)
        boosts = {
            t: b for c, b in raw_boosts.items() for t in terms_for_index(meta, c)
        } or None
        filters = (hosts, ranges) if hosts or ranges else None
        allowed = None
        if filters:
            allowed = allowed_ids(
                hosts, ranges, lambda: read_authority(d),
                lambda f: read_doc_values(d, f),
            )
        yield raw, mode, q, terms, boosts, filters, allowed


def _oracle(o, to_eid, terms, mode, boosts, excl, allowed, k):
    """Oracle top-k and total: oracle.py's postings, idf and doc lengths,
    each doc's terms summed in the engine's order, w = idf·boost."""
    from uci_searchengine_spark import BM25_B as B
    from uci_searchengine_spark import BM25_K1 as K1

    w = {t: o.idf(t) * (boosts or {}).get(t, 1.0) for t in terms if t in o.postings}
    if mode == "and" and len(w) < len(terms):
        return [], 0
    scores: dict[int, float] = {}
    hits: dict[int, int] = {}
    if mode == "and":
        order = sorted(w, key=lambda t: (len(o.postings[t]), t))
    else:
        order = sorted(w, key=lambda t: (-w[t], t))
    for t in order:
        for doc, tf in o.postings[t].items():
            dl = o.doc_len[doc]
            tf_part = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / o.avgdl))
            scores[doc] = scores.get(doc, 0.0) + w[t] * tf_part
            hits[doc] = hits.get(doc, 0) + 1
    elig = sorted(
        (
            (to_eid[doc], s) for doc, s in scores.items()
            if (mode == "or" or hits[doc] == len(w))
            and to_eid[doc] not in excl
            and (allowed is None or to_eid[doc] in allowed)
        ),
        key=lambda x: (-x[1], x[0]),
    )
    return elig[:k], len(elig)


@pytest.mark.spark
def test_ranges_local_and_oracle_agree(spark, lifecycle, monkeypatch):
    from pyspark import SparkContext

    from uci_searchengine_spark.operators import tombstones
    from uci_searchengine_spark.operators.bm25 import query_terms
    from uci_searchengine_spark.operators.index_build import IndexMeta
    from uci_searchengine_spark.operators.local_search import local_topk_count_docs
    from uci_searchengine_spark.operators.wand import (
        BucketedExcl,
        load_excl,
        topk_count_docs,
    )

    d, o, to_eid = lifecycle
    meta = IndexMeta.load(d)
    assert meta.gens == 2
    n_buckets = -(-max(meta.n_docs, meta.next_doc_id) // meta.bucket_size)
    assert n_buckets > 4
    arr = load_excl(d, meta.bucket_size)
    excl = set(arr.tolist())
    k = 10**4  # every match: all their scores are compared
    for raw, mode, q, terms, boosts, filters, allowed in _parsed(d, meta):
        want = _oracle(
            o, to_eid, terms, mode, boosts, excl,
            None if allowed is None else set(allowed.tolist()), k,
        )
        assert want[1] > 0, raw

        def rows(env):
            return [(r["doc_id"], r["score"]) for r in env[0]], env[1]

        local = rows(
            local_topk_count_docs(
                d, meta, query_terms(q), terms, k, mode=mode, excl=arr,
                boosts=boosts, incl=allowed,
            )
        )
        assert local == want, (raw, "local")
        for cap in (10_000_000, 1):  # driver array; files read per range
            monkeypatch.setattr(tombstones, "DRIVER_CAP", cap)
            ex = load_excl(d, meta.bucket_size)
            assert isinstance(ex, BucketedExcl) == (cap == 1)
            for n in (1, 2, 3, n_buckets):
                monkeypatch.setattr(
                    SparkContext, "defaultParallelism", property(lambda self: n)
                )
                got = rows(
                    topk_count_docs(
                        spark, d, meta, query_terms(q), terms, k, mode=mode,
                        excl=ex, boosts=boosts, filters=filters,
                    )
                )
                assert got == want, (raw, cap, n)
            monkeypatch.undo()


def test_range_spans_bound_the_kernel_range():
    """A frame's buckets split into runs of whole buckets of at most
    ``_RANGE_IDS`` ids, so the kernel's dense accumulator never spans
    the gap between far-apart postings."""
    from uci_searchengine_spark.operators import wand
    from uci_searchengine_spark.operators.index_build import DOCS_PER_BUCKET

    assert wand._RANGE_IDS == DOCS_PER_BUCKET
    # a rare term in buckets 0 and 249 of a 2e9-doc grid: two 8e6-id runs
    assert wand._range_spans(np.array([0, 249]), DOCS_PER_BUCKET) == [
        [0, 0], [249, 249],
    ]
    # small buckets pack into one run per _RANGE_IDS ids
    per = DOCS_PER_BUCKET // 1000
    assert wand._range_spans(
        np.array([0, 1, 5, per - 1, per, per + 3, 5 * per]), 1000
    ) == [[0, per - 1], [per, per + 3], [5 * per, 5 * per]]


@pytest.mark.spark
def test_split_ranges_bound_the_accumulator(lifecycle, monkeypatch):
    """With ``_RANGE_IDS`` lowered to one and to two buckets, the
    task-local envelope sizes every kernel call's accumulator (its
    ``size`` argument, ``acc = np.zeros(size)``) to at most that many
    ids — never to the frame's id span — and returns the same doc ids,
    ``==`` scores and totals as the one-range run."""
    from uci_searchengine_spark.operators import wand
    from uci_searchengine_spark.operators.bm25 import query_terms
    from uci_searchengine_spark.operators.index_build import IndexMeta
    from uci_searchengine_spark.operators.local_search import local_topk_count_docs

    d, _o, _to_eid = lifecycle
    meta = IndexMeta.load(d)
    bs = meta.bucket_size
    arr = wand.load_excl(d)
    sizes = []
    for name in ("_score_bucket", "_score_bucket_and"):

        def spy(*a, _orig=getattr(wand, name), **kw):
            sizes.append(a[3])  # the range size, both kernels
            return _orig(*a, **kw)

        monkeypatch.setattr(wand, name, spy)

    def run():
        out = []
        for _raw, mode, q, terms, boosts, _f, allowed in _parsed(d, meta):
            env = local_topk_count_docs(
                d, meta, query_terms(q), terms, 10**4, mode=mode, excl=arr,
                boosts=boosts, incl=allowed,
            )
            out.append(([(r["doc_id"], r["score"]) for r in env[0]], env[1]))
        return out

    whole = run()
    assert len(sizes) == len(QUERIES) and min(sizes) > 2 * bs  # one range each
    for cap in (bs, 2 * bs):
        monkeypatch.setattr(wand, "_RANGE_IDS", cap)
        sizes.clear()
        assert run() == whole, cap
        assert len(sizes) > 2 * len(QUERIES), cap
        assert max(sizes) <= cap, cap


@pytest.mark.spark
def test_gate_scorers_split_invariant(spark, lifecycle, monkeypatch):
    """Every gate top-k scorer on the range map stage (``wand.run_ranges``)
    returns identical rows whether the bucket grid is one range or one
    range per bucket (``wand._range_cuts`` patched to each), with the
    tombstones as the driver array and past ``DRIVER_CAP`` (read per
    range from the files) — on the two-generation index, whose df comes
    from the driver (``term_dfs``) and whose boundary bucket holds rows
    of both generations."""
    from uci_searchengine_spark.operators import tombstones, wand
    from uci_searchengine_spark.operators.batch_eval import batch_topk
    from uci_searchengine_spark.operators.boolean import boolean_search
    from uci_searchengine_spark.operators.docvalues import (
        blended_topk,
        decay_topk,
        sort_by_field_topk,
    )
    from uci_searchengine_spark.operators.federate import federated_topk
    from uci_searchengine_spark.operators.filtered import filtered_topk
    from uci_searchengine_spark.operators.index_build import IndexMeta
    from uci_searchengine_spark.operators.mlt import more_like_this
    from uci_searchengine_spark.operators.phrase import phrase_search
    from uci_searchengine_spark.operators.prefix import prefix_search
    from uci_searchengine_spark.operators.serving import Searcher
    from uci_searchengine_spark.operators.wand import score_msm, score_wand

    d, _o, _to_eid = lifecycle
    meta = IndexMeta.load(d)
    n_buckets = -(-max(meta.n_docs, meta.next_doc_id) // meta.bucket_size)
    q, k = "stop0 arbak", 50
    allowed = spark.range(meta.next_doc_id).filter("id % 3 != 1").selectExpr(
        "id AS doc_id"
    )
    src = score_wand(spark, d, "arbar page arbas", 1).collect()[0]["doc_id"]
    scorers = {
        "or": lambda: score_wand(spark, d, q, k),
        "and": lambda: score_wand(spark, d, "arbar page stop2", k, mode="and"),
        "boost": lambda: score_wand(spark, d, q, k, boosts={"arbak": 3.0}),
        "msm": lambda: score_msm(spark, d, "stop0 arbak stop1", k, 2),
        "phrase": lambda: phrase_search(spark, d, "arbak stop1", k),
        "bool": lambda: boolean_search(spark, d, "+arbak stop1 -stop9", k),
        "sort": lambda: sort_by_field_topk(spark, d, q, "rank", k=k),
        "blended": lambda: blended_topk(spark, d, q, "rank", k=k, weight=2.0),
        "decay": lambda: decay_topk(
            spark, d, q, "rank", origin=0.5, scale=0.2, k=k
        ),
        "fed": lambda: federated_topk(spark, [d, d], q, k=k),
        "filtered": lambda: filtered_topk(spark, d, q, allowed, k),
        "batch": lambda: batch_topk(
            spark, d, {"a": q, "b": "arbak stop1"}, k
        ).orderBy("query_id", "doc_id"),
        "mlt": lambda: more_like_this(spark, d, src, k=k),
        "prefix": lambda: prefix_search(spark, d, "arba*", k),
        "top_k": lambda: Searcher(spark, d).top_k(q, k),
    }
    cuts_seen = []

    def run(cuts):
        def patched(sc, n):
            cuts_seen.append(cuts(n))
            return cuts(n)

        monkeypatch.setattr(wand, "_range_cuts", patched)
        return {
            name: [tuple(r) for r in mk().collect()] for name, mk in scorers.items()
        }

    per_cap = []
    for cap in (10_000_000, 1):
        monkeypatch.setattr(tombstones, "DRIVER_CAP", cap)
        assert isinstance(wand.load_excl(d, meta.bucket_size), wand.BucketedExcl) == (
            cap == 1
        )
        cuts_seen.clear()
        one = run(lambda n: [0, n])
        assert cuts_seen and all(c == [0, n_buckets] for c in cuts_seen)
        cuts_seen.clear()
        split = run(lambda n: list(range(n + 1)))
        assert cuts_seen and all(len(c) == n_buckets + 1 for c in cuts_seen)
        for name in scorers:
            assert one[name], (cap, name)
            assert split[name] == one[name], (cap, name)
        per_cap.append(one)
    assert per_cap[0] == per_cap[1]
