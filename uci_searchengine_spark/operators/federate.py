"""Federated search: one query over several independent indexes with
EXACT global statistics (Elasticsearch cross-index search semantics —
the reference serves one active database at a time via its registry
switch, reference backend/app/api/routes.py:73-115; federation is the
multi-index extension of that surface).

Rank-identity contract: scoring uses the union corpus's statistics —
``N = Σ n_i``, ``avgdl = Σ(n_i·avgdl_i)/N`` (recomposing each index's
exact total length), ``df(t) = Σ df_i(t)`` — so a document scores
bit-identically (to well below the 6-dp envelope rounding) whether the
corpus was indexed as one index or split across many. This is ES's
dfs_query_then_fetch, not its default per-shard-idf mode, because the
engine's single-index scorer is already exact-global and federation
must not regress that.

Scale shape: per index, the same pruned scan the single-index path
uses (shard partition-pruning + term row pruning + positional-plane
column pruning); per-term df totals are a driver-side exchange bounded
by n_query_terms × n_indexes rows (the same sanctioned tiny-collect
class as manifest lists); each index then scores its own buckets with
its own block-max metadata — bounds stay admissible against the global
avgdl through the existing per-generation inflation (gen_avgdl =
that index's build avgdl). Union of per-bucket bounded top-k, global
TakeOrderedAndProject (``federated_topk``) or a driver merge of the
members' envelopes (``federated_envelope``). No cross-index shuffle of
postings, ever.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import _bucket_topk, load_excl


def _global_stats(metas: "list[IndexMeta]") -> tuple[int, float]:
    n = sum(m.n_docs for m in metas)
    if n == 0:
        return 0, 0.0
    total_len = sum(m.n_docs * m.avgdl for m in metas)
    return n, total_len / n


def _union_stats(index_dirs: "list[str]", query: str):
    """Shared federation prelude: validate the members, analyze the
    query once, and resolve the UNION-corpus statistics. Returns
    (terms, member metas, n_docs, avgdl, df per term); the per-term df
    totals are driver-side term/df scans of each member's pruned files
    (``local_search.term_dfs``), ≤ n_query_terms rows per member."""
    from uci_searchengine_spark.operators.local_search import term_dfs

    if not index_dirs:
        raise ValueError("federation needs at least one index dir")
    metas = [IndexMeta.load(d) for d in index_dirs]
    if len({(m.stem, m.k1, m.b) for m in metas}) != 1:
        raise ValueError(
            "federated indexes must share the analysis chain and BM25 "
            f"constants; got {[(m.stem, m.k1, m.b) for m in metas]}"
        )
    terms = terms_for_index(metas[0], query)
    df_global: dict[str, int] = {t: 0 for t in terms}
    for d, m in zip(index_dirs, metas):
        for t, df in term_dfs(d, m, terms).items():
            df_global[t] += df
    return terms, metas, *_global_stats(metas), df_global


def federated_topk(
    spark: SparkSession,
    index_dirs: "list[str]",
    query: str,
    k: int = 10,
) -> DataFrame:
    """Top-k (index_id, doc_id, score) across ``index_dirs`` under
    exact union-corpus BM25 statistics. ``doc_id`` is index-local (each
    index owns its dense id space); callers resolve global identity
    through each index's doc store. Each member scores its buckets in
    its own range map stage (``wand._bucket_topk`` under the union
    statistics); every bucket's top-k is a superset of its contribution
    to the global top-k, so the final ``orderBy … limit k`` over the
    union of the stages is exact."""
    terms, metas, n_docs, avgdl, dfs = _union_stats(index_dirs, query)
    if not terms:
        return spark.createDataFrame(
            [], "index_id int, doc_id long, score double"
        )
    branches = [
        _bucket_topk(spark, d, m, terms, k, stats=(n_docs, avgdl, dfs)).select(
            F.lit(i).cast("int").alias("index_id"), "doc_id", "score"
        )
        for i, (d, m) in enumerate(zip(index_dirs, metas))
    ]
    out = reduce(DataFrame.unionByName, branches)
    return out.orderBy(
        F.desc("score"), F.asc("index_id"), F.asc("doc_id")
    ).limit(k)


def federated_envelope(
    spark: SparkSession,
    index_dirs: "list[str]",
    query: str,
    page: int = 1,
    per_page: int = 10,
    mode: str = "or",
    labels: "list[str] | None" = None,
) -> dict:
    """The reference search envelope over a federation: doc-attached
    results (url/title/snippet/score + the member label each hit came
    from) and the EXACT union match count, one topk_count_docs job per
    member (one scatter-gather stage each). Cross-member ordering is
    (score desc, url asc) — a total, engine-independent order (doc ids
    are index-local and urls are globally unique by the crawler's dedup
    invariant).

    PRECONDITION — member indexes must be url-DISJOINT. ``total_results``
    sums per-member match counts, which double-counts a url present in
    more than one member. Indexes built by this engine's crawler satisfy
    this (global url dedup before build); for externally built members
    the caller owns the invariant. The returned page is additionally
    deduped by url (first = best-scoring member wins) so overlap can
    never surface duplicate rows even if the count is an upper bound."""
    import math

    from uci_searchengine_spark.operators.wand import topk_count_docs

    labels = labels or [str(i) for i in range(len(index_dirs))]
    if len(labels) != len(index_dirs):
        raise ValueError("labels must match index_dirs")
    terms, metas, n_docs, avgdl, dfs = _union_stats(index_dirs, query)
    if not terms:
        return {
            "query": query,
            "total_results": 0,
            "page": page,
            "per_page": per_page,
            "total_pages": 0,
            "did_you_mean": None,
            "results": [],
        }
    disp = query.split()
    total = 0
    rows: list[dict] = []
    for lbl, d, m in zip(labels, index_dirs, metas):
        rows_i, total_i = topk_count_docs(
            spark, d, m, disp, terms, k=page * per_page, mode=mode,
            excl=load_excl(d, m.bucket_size),
            stats=(n_docs, avgdl, dfs),
        )
        total += total_i
        for r in rows_i:
            rows.append({**r, "index": lbl})
    rows.sort(key=lambda r: (-r["score"], r["url"]))
    seen_urls: set = set()
    deduped = []
    for r in rows:
        if r["url"] not in seen_urls:
            seen_urls.add(r["url"])
            deduped.append(r)
    rows = deduped
    start = (page - 1) * per_page
    dym = None
    if total == 0:
        from uci_searchengine_spark.operators.suggest import suggest_query

        dym = suggest_query(spark, index_dirs[0], query)
    return {
        "query": query,
        "total_results": total,
        "page": page,
        "per_page": per_page,
        "total_pages": math.ceil(total / per_page),
        "did_you_mean": dym,
        "results": [
            {
                "url": r["url"],
                "title": r["title"],
                "snippet": r["snippet"],
                "score": r["score"],
                "index": r["index"],
            }
            for r in rows[start : start + per_page]
        ],
    }
