"""The per-bucket scoring kernels of operators/wand.py against a
brute-force numpy scorer, and the cross-bucket tie order.

``_score_bucket`` (θ-pruned OR family: min_match, per-doc ``mul``/``add``
transform, excl/incl masks, match counting) and ``_score_bucket_and``
(rarest-first conjunctive walk) must return EXACTLY what exhaustive
scoring returns when it sums each doc's term contributions in the same
order — same doc ids, same order, bit-equal scores, same match count.
Segment rows are built with codec.pack_postings, including boundary
buckets holding two generations of a term (disjoint doc ranges, each
packed with its own gen_avgdl). No Spark session.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.operators.codec import pack_postings
from uci_searchengine_spark.operators.wand import _score_bucket, _score_bucket_and

AVGDL = 100.0


def _row(term, docs, tfs, dls, bucket, df, gen_avgdl):
    blob, bmax, boff, blast = pack_postings(
        np.asarray(docs, dtype=np.int64), np.asarray(tfs, dtype=np.int64),
        np.asarray(dls, dtype=np.int64), gen_avgdl,
    )
    return {
        "term": term, "bucket": bucket, "df_global": df, "postings": blob,
        "block_max": bmax, "block_offsets": boff, "block_last_doc": blast,
        "gen_avgdl": gen_avgdl,
    }


def _contrib(w, tf, dl):
    tf = tf.astype(np.float64)
    return w * (
        tf * (BM25_K1 + 1.0)
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / AVGDL))
    )


def _brute(postings, order, bucket_size, base, k, excl, incl, keep, mul=None, add=None):
    """Exhaustive scorer: ``postings`` {term: (w, docs, tfs, dls)} with
    global doc ids, summed term by term in ``order``; ``keep(cnt, n)``
    is the match rule over per-doc matched-term counts."""
    acc = np.zeros(bucket_size)
    cnt = np.zeros(bucket_size, dtype=np.int64)
    for t in order:
        w, d, tf, dl = postings[t]
        m = np.ones(d.size, dtype=bool)
        if excl is not None:
            m &= ~np.isin(d, excl)
        if incl is not None:
            m &= np.isin(d, incl)
        np.add.at(acc, d[m] - base, _contrib(w, tf[m], dl[m]))
        cnt[d[m] - base] += 1
    ids = np.flatnonzero(keep(cnt, len(order)))
    s = acc[ids]
    if mul is not None:
        s = s * mul[ids]
    if add is not None:
        s = s + add[ids]
    o = np.lexsort((ids, -s))[:k]
    return (ids[o] + base).tolist(), s[o].tolist(), int(ids.size)


@st.composite
def _bucket_case(draw):
    """Structure (sizes, generations, weights, masks) from hypothesis;
    the bulk arrays from a numpy generator it seeds."""
    rng = np.random.RandomState(draw(st.integers(0, 2**32 - 1)))
    bucket_size = draw(st.sampled_from([256, 300]))
    bucket = draw(st.integers(0, 2))
    base = bucket * bucket_size
    # two generations split the bucket's doc range at ``split``
    two_gen = draw(st.booleans())
    split = draw(st.integers(1, bucket_size - 1)) if two_gen else bucket_size
    gen_avgdl = [draw(st.sampled_from([60.0, 100.0, 140.0])) for _ in range(2)]
    n_terms = draw(st.integers(1, 4))
    rows, postings, dfs = [], {}, {}
    for i in range(n_terms):
        term = f"t{i}"
        n = draw(st.integers(1, 200))
        d = np.sort(rng.choice(bucket_size, size=n, replace=False)).astype(np.int64) + base
        # per-term tf ceilings make upper-bound order differ from w order
        tf = rng.randint(1, draw(st.sampled_from([1, 2, 30])) + 1, size=n)
        dl = rng.randint(1, 301, size=n)
        w = draw(st.sampled_from([0.4, 1.1, 1.2, 1.2, 1.3, 3.7]))  # ties → term order
        dfs[term] = draw(st.integers(1, 4))
        postings[term] = (w, d, tf, dl)
        for g, sel in enumerate((d < base + split, d >= base + split)):
            if sel.any():
                rows.append(
                    _row(term, d[sel], tf[sel], dl[sel], bucket, dfs[term], gen_avgdl[g])
                )
    order = draw(st.permutations(rows))  # row delivery order must not matter
    seg = pd.DataFrame(order)

    def ids():
        frac = draw(st.sampled_from([None, 0.0, 0.1, 0.5, 0.9]))
        if frac is None:
            return None
        return np.flatnonzero(rng.uniform(size=bucket_size) < frac) + base

    excl, incl = ids(), ids()
    return bucket_size, base, seg, postings, dfs, excl, incl


def _hits(out):
    return out["doc_id"].tolist(), out["score"].tolist()


@settings(max_examples=300, deadline=None)
@given(
    _bucket_case(),
    st.integers(1, 12),
    st.integers(1, 5),
    st.booleans(),
    st.sampled_from(["none", "mul", "add", "both"]),
    st.randoms(use_true_random=False),
)
def test_or_kernel_equals_brute_force(case, k, min_match, count_matches, transform, rnd):
    bucket_size, base, seg, postings, dfs, excl, incl = case
    rng = np.random.RandomState(rnd.randint(0, 2**31))
    mul = add = None
    if transform in ("mul", "both"):
        # decay multipliers in [0, 1], with exact zeros and ones
        mul = np.round(rng.uniform(-0.2, 1.2, size=bucket_size).clip(0, 1), 2)
    if transform in ("add", "both"):
        add = rng.uniform(0, 8, size=bucket_size) * (rng.uniform(size=bucket_size) < 0.2)
    idf_map = {t: p[0] for t, p in postings.items()}
    order = sorted(postings, key=lambda t: (-postings[t][0], t))
    want = _brute(
        postings, order, bucket_size, base, k, excl, incl,
        lambda cnt, n: cnt >= min_match, mul, add,
    )
    got = _score_bucket(
        seg, idf_map, AVGDL, bucket_size, k, excl=excl, incl=incl,
        count_matches=count_matches, min_match=min_match, mul=mul, add=add,
    )
    if count_matches:
        got, n = got
        assert n == want[2]
    assert _hits(got) == want[:2]


@settings(max_examples=200, deadline=None)
@given(_bucket_case(), st.one_of(st.none(), st.integers(1, 12)), st.booleans())
def test_and_kernel_equals_brute_force(case, k, count_matches):
    bucket_size, base, seg, postings, dfs, excl, incl = case
    idf_map = {t: p[0] for t, p in postings.items()}
    order = sorted(postings, key=lambda t: (dfs[t], t))
    want = _brute(
        postings, order, bucket_size, base, k, excl, incl,
        lambda cnt, n: cnt == n,
    )
    got = _score_bucket_and(
        seg, idf_map, AVGDL, bucket_size, len(postings), k,
        excl=excl, count_matches=count_matches, incl=incl,
    )
    if count_matches:
        got, n = got
        assert n == want[2]
    assert _hits(got) == want[:2]


def test_equal_scores_tie_across_buckets_in_doc_order():
    """Docs 10 (bucket 0) and 1034 (bucket 1) hold t1, t2, t3 with the
    same tf and length, so their BM25 scores are mathematically equal.
    A heavy t3 posting makes t3 the largest upper bound in bucket 0 only;
    summing in each bucket's own upper-bound order gave the two docs
    different last bits (7.5602 vs 7.560200000000001) and ranked doc
    1034 first. One bucket-independent order makes them bit-equal, and
    (score desc, doc_id asc) puts doc 10 first."""
    bucket_size = 1024
    idf_map = {"t1": 3.0274, "t2": 2.5142, "t3": 2.0186}

    def bucket_rows(bucket, heavy_t3):
        base = bucket * bucket_size
        rows = []
        for t in ("t1", "t2", "t3"):
            docs, tfs = [base + 10], [1]
            if t == "t3" and heavy_t3:
                docs, tfs = [base + 10, base + 500], [1, 50]
            rows.append(
                _row(t, docs, tfs, [int(AVGDL)] * len(docs), bucket, 2, AVGDL)
            )
        return pd.DataFrame(rows).drop(columns="gen_avgdl")

    hits = []
    for bucket, heavy in ((0, True), (1, False)):
        out = _score_bucket(bucket_rows(bucket, heavy), idf_map, AVGDL, bucket_size, 5)
        hits += list(zip(out["doc_id"].tolist(), out["score"].tolist()))
    score = dict(hits)
    assert score[10] == score[1034]
    ranked = sorted(hits, key=lambda h: (-h[1], h[0]))
    assert [d for d, _ in ranked].index(10) < [d for d, _ in ranked].index(1034)
