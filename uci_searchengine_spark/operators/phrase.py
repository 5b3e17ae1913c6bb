"""Phrase search over the compressed segment index.

Two physical strategies, chosen per-index:

* **Positional** (index built with ``positions=True``): candidates from
  rarest-first conjunctive posting-list intersection, adjacency verified
  from the index's positional plane alone — per candidate block, decode
  the delta-varint positions (operators/codec.py) and chain
  ``S = (S + 1) ∩ P_j`` across the query sequence. No doc-store reads,
  no tokenization at query time: the Lucene-style design, the right
  trade when phrase queries are frequent.
* **Match-then-verify** (no positional plane): the same intersection,
  then adjacency checked against the doc store INSIDE the same
  per-bucket call. The doc store is hive-partitioned by the SAME
  doc-range buckets the scorer runs by, so each bucket call reads
  exactly its own `docs/bucket=N/` files with a pyarrow doc_id filter —
  candidate fetch is co-located by construction: no join, no second
  shuffle. The right trade when phrase queries are rare (keeps the index
  ~2x smaller).

Either way Python-side work (position chaining / tokenize) is bounded by
the intersection size, never the corpus — the hot path (posting decode,
intersection) stays numpy over the varint planes.

Reference: no phrase operator exists in UCI-SearchEngine
(backend/app/api/search.py:79-82 is a pure token OR); breadth extension.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark import BLOCK_SIZE
from uci_searchengine_spark.functions.phrase import (
    count_near_py,
    count_phrase_py,
)
from uci_searchengine_spark.operators.bm25 import analyze_seq
from uci_searchengine_spark.operators.codec import (
    unpack_positions,
    unpack_postings,
)
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import (
    _idf_map,
    _score_bucket_and,
    run_ranges,
)

_OUT_SCHEMA = "doc_id long, score double, n_occ int"


def _verify_bucket(
    docs_dirs: "str | list[str]",
    bucket: int,
    ids: np.ndarray,
    seq: list[str],
    stem: bool,
    slop: int = 0,
) -> dict[int, int]:
    """Doc-store strategy: read this bucket's files pruned to the
    candidate ids (pyarrow predicate → row-group skip; docs are written
    doc_id-sorted per bucket) and count phrase occurrences under the
    build tokenizer. ``docs_dirs`` may list several generations' doc
    stores — a boundary bucket's docs can span generations."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from uci_searchengine_spark.functions.tokenize import tokenize_series

    if isinstance(docs_dirs, str):
        docs_dirs = [docs_dirs]
    parts = [
        p
        for d in docs_dirs
        if os.path.isdir(p := os.path.join(d, f"bucket={bucket}"))
    ]
    if not parts:
        return {}
    tbls = [
        pads.dataset(p, format="parquet").to_table(
            columns=["doc_id", "text"],
            filter=pads.field("doc_id").isin(ids.tolist()),
        )
        for p in parts
    ]
    pdf = pa.concat_tables(tbls).to_pandas()
    toks = tokenize_series(pdf["text"])
    if stem:
        from uci_searchengine_spark.functions.stem import stem_tokens

        toks = toks.map(stem_tokens)
    if slop == 0:
        return {
            int(d): count_phrase_py(t, seq)
            for d, t in zip(pdf["doc_id"], toks)
        }
    return {
        int(d): count_near_py(t, seq, slop)
        for d, t in zip(pdf["doc_id"], toks)
    }


def _candidate_positions(
    row, cand_sorted: np.ndarray, base: int
) -> dict[int, np.ndarray]:
    """Decode one term's positions for the candidate docs only: skip to
    blocks whose doc-id fences contain a candidate, decode that block's
    main plane (doc ids + tfs) and positional plane, keep candidates."""
    blob = bytes(row.postings)
    pos_blob = bytes(row.positions)
    offs = np.asarray(row.block_offsets, dtype=np.int64)
    pos_offs = np.asarray(row.pos_block_off, dtype=np.int64)
    lasts = np.asarray(row.block_last_doc, dtype=np.int64)
    firsts = np.concatenate(([base - 1], lasts[:-1]))
    lo = np.searchsorted(cand_sorted, firsts, side="right")
    hi = np.searchsorted(cand_sorted, lasts, side="right")
    keep = hi > lo
    out: dict[int, np.ndarray] = {}
    nblocks = len(offs)
    for bi in np.flatnonzero(keep):
        cnt = BLOCK_SIZE if bi < nblocks - 1 else None
        d, tf, _dl = unpack_postings(blob, offset=int(offs[bi]), count=cnt)
        if bi > 0:
            d = d + (lasts[bi - 1] + 1)
        pf, ro = unpack_positions(pos_blob, tf, offset=int(pos_offs[bi]))
        pos = np.searchsorted(cand_sorted, d)
        pos = np.clip(pos, 0, cand_sorted.size - 1)
        mask = cand_sorted[pos] == d
        for j in np.flatnonzero(mask):
            out[int(d[j])] = pf[ro[j] : ro[j + 1]]
    return out


def _positional_counts(
    seg_pdf: pd.DataFrame,
    cand: np.ndarray,
    base: int,
    seq: list[str],
) -> dict[int, int]:
    """Index-only adjacency: per candidate doc chain
    S ← (S + 1) ∩ P_term over the query sequence; |S| = occurrences."""
    cand_sorted = np.sort(cand)
    by_term: dict[str, dict[int, np.ndarray]] = {}
    for row in seg_pdf.itertuples(index=False):
        # merge per-generation rows of the same term (multi-gen boundary
        # buckets) — their doc keys are disjoint
        by_term.setdefault(row.term, {}).update(
            _candidate_positions(row, cand_sorted, base)
        )
    out: dict[int, int] = {}
    for d in cand_sorted:
        di = int(d)
        s = by_term[seq[0]].get(di)
        if s is None:
            out[di] = 0
            continue
        for t in seq[1:]:
            nxt = by_term[t].get(di)
            if nxt is None or not s.size:
                s = np.empty(0, dtype=np.int64)
                break
            s = np.intersect1d(s + 1, nxt, assume_unique=True)
        out[di] = int(s.size)
    return out


def _near_counts(
    seg_pdf: pd.DataFrame,
    cand: np.ndarray,
    base: int,
    seq: list[str],
    slop: int,
) -> dict[int, int]:
    """Index-only ordered proximity (functions/phrase.py semantics):
    starts = positions of seq[0]; per remaining term a vectorized
    greedy earliest-next step (searchsorted) over ALL starts at once;
    a start matches iff the chain lands within the slop window. At
    slop=0 this equals ``_positional_counts`` (greedy earliest is
    adjacency); the separate set-intersection path stays because it is
    cheaper for exact phrases."""
    cand_sorted = np.sort(cand)
    by_term: dict[str, dict[int, np.ndarray]] = {}
    for row in seg_pdf.itertuples(index=False):
        by_term.setdefault(row.term, {}).update(
            _candidate_positions(row, cand_sorted, base)
        )
    win = len(seq) - 1 + slop
    out: dict[int, int] = {}
    for d in cand_sorted:
        di = int(d)
        starts = by_term[seq[0]].get(di)
        if starts is None or not starts.size:
            out[di] = 0
            continue
        cur = starts.astype(np.int64)
        ok = np.ones(cur.shape, dtype=bool)
        for t in seq[1:]:
            pos = by_term[t].get(di)
            if pos is None or not pos.size:
                ok[:] = False
                break
            idx = np.searchsorted(pos, cur + 1)
            valid = idx < pos.size
            cur = np.where(valid, pos[np.minimum(idx, pos.size - 1)], cur)
            ok &= valid
        ok &= (cur - starts.astype(np.int64)) <= win
        out[di] = int(ok.sum())
    return out


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    method: str = "auto",
    slop: int = 0,
) -> DataFrame:
    """Top-k (doc_id, score, n_occ) among docs containing the exact
    analyzed token sequence; score = the same OR-sum BM25 as score_wand,
    rank (score desc, doc_id asc).

    ``method``: "auto" uses the positional plane when the index has one,
    else the doc store; "positions" / "docstore" force a strategy.

    ``slop`` > 0 relaxes exact adjacency to ordered proximity with a
    total gap budget (Lucene sloppy-phrase / ordered span_near — see
    functions/phrase.py for the pinned semantics); n_occ becomes the
    number of matching start positions."""
    meta = IndexMeta.load(index_dir)
    seq, terms, use_pos = phrase_plan(meta, phrase, method, slop)
    empty = spark.createDataFrame([], _OUT_SCHEMA)
    if not seq:
        return empty
    make_fn = make_phrase_fn(meta, index_dir, seq, terms, k, use_pos, slop)
    per_bucket = run_ranges(
        spark, index_dir, meta, terms, make_fn, _OUT_SCHEMA, with_positions=use_pos
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_plan(meta: IndexMeta, phrase: str, method: str, slop: int = 0):
    """Shared prelude of the distributed and task-local phrase plans:
    (analyzed sequence, deduped terms, positional-plane decision) —
    including the method validation errors."""
    if method not in ("auto", "positions", "docstore"):
        raise ValueError(f"unknown method {method!r}")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    has_pos = bool(getattr(meta, "positions", False))
    if method == "positions" and not has_pos:
        raise ValueError("index has no positional plane (build with positions=True)")
    use_pos = has_pos if method == "auto" else (method == "positions")
    seq = analyze_seq(meta, phrase)
    return seq, list(dict.fromkeys(seq)), use_pos


def make_phrase_fn(
    meta: IndexMeta,
    index_dir: str,
    seq: list[str],
    terms: list[str],
    k: int,
    use_pos: bool,
    slop: int = 0,
):
    """Per-bucket phrase closure builder SHARED by the distributed path
    (``phrase_search``, one call per bucket in ``wand.run_ranges``' range
    tasks) and the task-local path
    (``local_search.phrase_topk_local``) — one code path, identical
    results by construction."""
    from uci_searchengine_spark.operators.index_build import generation_dirs

    n_terms = len(terms)
    docs_dirs = [os.path.join(d, "docs") for d in generation_dirs(index_dir)]
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size
    stem = bool(getattr(meta, "stem", False))

    def make_fn(excl_local):
        def score_fn(key, seg_pdf):
            out_empty = pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                    "n_occ": pd.Series([], dtype="int32"),
                }
            )
            if not len(seg_pdf):
                return out_empty
            idf_map = _idf_map(n_docs, seg_pdf)
            # k=None: the FULL intersection — truncating before adjacency
            # verification would be wrong (a verified doc outside the raw
            # AND top-k could belong in the phrase top-k)
            cand = _score_bucket_and(
                seg_pdf, idf_map, avgdl, bucket_size, n_terms, k=None,
                excl=excl_local,
            )
            if not len(cand):
                return out_empty
            bucket = int(seg_pdf["bucket"].iloc[0])
            ids = cand["doc_id"].to_numpy()
            # LAZY verification: candidates are already in final rank
            # order (score desc, doc asc — _score_bucket_and), and
            # verification only FILTERS, so this bucket's phrase top-k
            # is exactly the first k candidates that verify. Verify in
            # growing chunks and stop at k hits — for a common phrase
            # this touches ~k docs instead of the whole AND
            # intersection (which for stopword-ish terms is most of the
            # bucket: measured 13.8k doc tokenizations for one 20k-doc
            # query, 2.0 s of a 2.2 s envelope, now ~64).
            occ_all: dict[int, int] = {}
            hits = 0
            pos0 = 0
            n_cand = len(ids)
            chunk = max(64, 4 * k)
            while pos0 < n_cand and hits < k:
                part = ids[pos0 : pos0 + chunk]
                if use_pos and slop == 0:
                    occ = _positional_counts(
                        seg_pdf, part, bucket * bucket_size, seq
                    )
                elif use_pos:
                    occ = _near_counts(
                        seg_pdf, part, bucket * bucket_size, seq, slop
                    )
                else:
                    occ = _verify_bucket(
                        docs_dirs, bucket, part, seq, stem, slop
                    )
                for d in part:
                    o = occ.get(int(d), 0)
                    if o > 0:
                        occ_all[int(d)] = o
                        hits += 1
                pos0 += chunk
                chunk *= 2  # exponential: low hit rates cost O(log) passes
            cand = cand[cand["doc_id"].isin(occ_all)]
            cand = cand.assign(
                n_occ=cand["doc_id"].map(occ_all).astype("int32")
            )
            # NOW per-bucket truncation is safe (scores already sorted desc,
            # doc asc by _score_bucket_and — stable head keeps the contract)
            return cand.head(k)

        return score_fn

    return make_fn


def phrase_results(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    method: str = "auto",
    slop: int = 0,
) -> DataFrame:
    """Phrase top-k joined to the doc store: (doc_id, url, title,
    snippet, score) — the serving envelope shape. Snippets highlight the
    raw phrase tokens (display rule, bm25.search)."""
    from uci_searchengine_spark.operators.bm25 import attach_docs, query_terms

    topk = phrase_search(
        spark, index_dir, phrase, k, method=method, slop=slop
    ).select("doc_id", "score")
    return attach_docs(spark, index_dir, topk, query_terms(phrase))
