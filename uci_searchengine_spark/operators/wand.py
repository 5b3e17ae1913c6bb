"""Block-max pruned BM25 top-k over compressed segments.

Query lifecycle (rebuild of backend/app/api/search.py:67-126, SURVEY.md §3.1):

1. tokenize + dedup query terms (driver),
2. a read of the query terms' ``shard=`` dirs only, row groups pruned
   on their footers' term stats (``local_search.read_pruned_segments_local``
   — the analog of the reference's B-tree probe on terms.term,
   models.py:41),
3. per-term idf from the ``df_global`` column denormalized onto segment
   rows at build time (term_stats analog) — no per-query aggregation job;
   an index of several generations or split shards sums its rows' df on
   the driver (``local_search.term_dfs``),
4. scoring of a doc-id RANGE over the segment rows alone — document
   lengths ride inline in the postings codec, so scoring needs NO side
   table (a per-query doc-length join would shuffle the whole doc table
   at corpus scale). Every doc's postings for all query terms live in
   its bucket of the doc-range grid, so any contiguous bucket range
   scores independently: the search envelope scores the whole pruned
   frame as one range in-process (``local_search``) or one range per
   task of a single scatter-gather stage (``topk_count_docs``), a range
   wider than ``_RANGE_IDS`` ids as runs of whole buckets; the top-k
   scorers run on the same scatter (``run_ranges``: one Python map
   stage, each task reading its range and calling the scorer's
   per-bucket closure once per bucket). Inside: block-max pruning
   (MaxScore regime over the block-max metadata) + vectorized
   exhaustive scoring of surviving blocks + a bounded top-k selection,
5. global top-k over ≤ n_ranges*k candidates: a driver merge for the
   envelope, orderBy(score desc, doc_id asc).limit(k) after the map
   stage for the top-k scorers (TakeOrderedAndProject, no Exchange).

Pruning logic (per range, ``_score_bucket``): terms are accumulated in
one range-independent order, weight ``w = idf·boost`` descending, into a
dense score array (np.add.at — no per-row Python); each term's list is
bounded by ``ub(t) = w*(k1+1)*max(block_max)``. Once the running k-th best
score θ exceeds the summed upper bounds of all remaining terms, no unseen
doc can enter the top-k: remaining terms only *update* existing
candidates, and their blocks are decoded only if the block's doc-id range
(block_last_doc fences) contains a candidate. This is the
MaxScore/block-max family — same skipping data (per-block max score,
last-doc fences, byte offsets) as BMW, organized term-at-a-time so every
inner step stays a numpy vector op. The same kernel serves
minimum_should_match and per-doc score transforms (doc-value blending,
decay); the conjunctive mode is the rarest-first ``_score_bucket_and``.

Verified rank-identical against the exhaustive naive scorer and the
single-node oracle on the full reference query set (tests/test_query.py).
"""

from __future__ import annotations

import dataclasses
import functools
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.operators.bm25 import idf as idf_fn
from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.codec import unpack_postings
from uci_searchengine_spark.operators.index_build import (
    DOCS_PER_BUCKET,
    IndexMeta,
    footer,
    parquet_files,
)


@dataclasses.dataclass(frozen=True)
class BucketedExcl:
    """Exclusion set too large for a driver closure array (tombstones
    past ``tombstones.DRIVER_CAP``): plain values a task closure
    captures. Every range task of the distributed plans (``_scatter``)
    reads its own doc-id range of the tombstone files (``ids``), so the
    set is never materialized on the driver."""

    index_dir: str
    bucket_size: int

    def ids(self, lo: int, hi: int) -> np.ndarray:
        """Sorted unique tombstoned doc ids in ``[lo, hi)``."""
        from uci_searchengine_spark.operators.tombstones import load_tombstone_ids

        return load_tombstone_ids(self.index_dir, lo, hi)


def load_excl(
    index_dir: str, bucket_size: "int | None" = None
) -> "np.ndarray | BucketedExcl | None":
    """Tombstoned doc ids as the scorers' exclusion input (None if no
    tombstones — the common case costs one isdir check). Below
    tombstones.DRIVER_CAP: a sorted driver array (shipped in the task
    closure, zero extra plan nodes). Past the cap, with ``bucket_size``
    given: a BucketedExcl whose tasks read their own ids."""
    from uci_searchengine_spark.operators import tombstones as _tomb

    est = _tomb.tombstone_count_estimate(index_dir)
    if not est:
        return None
    if est > _tomb.DRIVER_CAP and bucket_size:
        return BucketedExcl(index_dir, bucket_size)
    t = _tomb.load_tombstone_ids(index_dir)
    return t if t.size else None


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _shards_for_terms(terms: list[str], num_shards: int) -> dict[str, int]:
    # driver-side xxhash64 (verified == F.xxhash64 in tests/test_xxhash.py)
    # — saves a Spark round-trip per query
    from uci_searchengine_spark.functions.xxhash import term_shard

    return {t: term_shard(t, num_shards) for t in terms}


# doc-range window of the per-window bound: term block metadata
# (block_last_doc / block_max) is folded onto this fixed grid so the
# θ-test bounds unseen/candidate docs per WINDOW instead of by one
# bucket-wide scalar. 128 matches the codec's postings block size — a
# dense term's blocks land ~1:1 on windows.
_WINDOW = 128


def _select(
    nz: np.ndarray, scores: np.ndarray, base: int, k: "int | None"
) -> pd.DataFrame:
    """(doc_id, score) frame of the top-``k`` bucket-local ids ``nz``
    (all when k is None) in (score desc, doc_id asc) order. Tie-aware:
    every doc at the k-th score boundary survives the partition, so the
    lexsort — not argpartition's arbitrary pick — decides among exact
    ties (rank-identity contract with score_naive/the oracle)."""
    if k is not None and nz.size > k:
        kth = np.partition(scores, nz.size - k)[nz.size - k]
        keep = scores >= kth
        nz, scores = nz[keep], scores[keep]
    order = np.lexsort((nz, -scores))[:k]
    return pd.DataFrame(
        {"doc_id": (nz[order] + base).astype("int64"), "score": scores[order]}
    )


def _empty_topk() -> pd.DataFrame:
    return _select(np.empty(0, dtype=np.int64), np.empty(0), 0, None)


def _term_rows(seg: pd.DataFrame, idf_map: dict, avgdl: float) -> list:
    """A range's segment rows as ``(ub, w, row)`` in the accumulation
    order, (w desc, term asc) with w = idf·boost. The order is the same
    in every range, so docs with mathematically equal scores in
    different buckets get bit-equal float sums whether they are scored
    in one range or in several (a per-bucket order made such ties differ
    in the last bit and rank against doc-id order).

    ``ub = w·(k1+1)·max(block_max)`` bounds the row's contribution to
    any doc. Multi-generation indexes carry gen_avgdl: each generation's
    block_max was computed with ITS build avgdl, while scoring uses the
    blended root avgdl — inflate the bound by max(1, avgdl/gen)
    (f = tf/(tf + c + m*dl) satisfies f_new <= f_old * avgdl_new/
    avgdl_old when avgdl grows) so pruning stays admissible."""
    has_gen = "gen_avgdl" in seg.columns
    rows = []
    for r in seg.itertuples(index=False):
        w = idf_map[r.term]
        bm = np.asarray(r.block_max, dtype=np.float64)
        infl = max(1.0, avgdl / float(r.gen_avgdl)) if has_gen else 1.0
        rows.append((w * (BM25_K1 + 1.0) * bm.max() * infl, w, r))
    rows.sort(key=lambda x: (-x[1], x[2].term))
    return rows


def _term_window_ub(
    rows: list, base: int, bucket_size: int, window: int = _WINDOW
) -> np.ndarray:
    """(T, n_win) additive upper-bound grid: entry [i, j] bounds row i's
    BM25 contribution to ANY doc in doc-range window j; 0 where the row
    has no postings (an absent term contributes nothing there, where a
    scalar bound assumes every term can land anywhere). Sound because
    postings are doc-sorted: block b's docs lie in (block_last_doc[b-1],
    block_last_doc[b]], and block_max bounds the per-doc contribution
    inside block b — folding it onto every window that range overlaps
    can only over-cover. One window (``window >= bucket_size``) is the
    rows' scalar bounds."""
    if window >= bucket_size:
        return np.array([ub for ub, _w, _r in rows], dtype=np.float64)[:, None]
    n_win = (bucket_size + window - 1) // window
    grid = np.zeros((len(rows), n_win), dtype=np.float64)
    for i, (ub_scalar, _w, r) in enumerate(rows):
        bm = np.asarray(r.block_max, dtype=np.float64)
        if not bm.size or ub_scalar <= 0:
            continue
        peak = bm.max()
        if peak <= 0:
            continue
        # ub_scalar = w*(k1+1)*infl*peak → recover the per-block scale
        vals = bm * (ub_scalar / peak)
        last = np.asarray(r.block_last_doc, dtype=np.int64) - base
        lo = np.empty_like(last)
        lo[0] = 0
        lo[1:] = last[:-1] + 1
        wlo = lo // window
        whi = last // window
        g = grid[i]
        single = wlo == whi
        if single.any():
            np.maximum.at(g, wlo[single], vals[single])
        for b in np.flatnonzero(~single):
            seg_slice = g[int(wlo[b]) : int(whi[b]) + 1]
            np.maximum(seg_slice, vals[b], out=seg_slice)
    return grid


def _window_max(vec: np.ndarray, n_win: int, window: int = _WINDOW) -> np.ndarray:
    """Per-window max of a dense bucket-local vector (the in-task fold
    of a per-doc transform onto the bound grid: O(bucket_size), free
    next to postings decode)."""
    pad = n_win * window - vec.size
    if pad:
        vec = np.concatenate([vec, np.zeros(pad, dtype=vec.dtype)])
    return vec.reshape(n_win, window).max(axis=1)


def _decode(r, cand: "np.ndarray | None", base: int):
    """One segment row's (doc_id, tf, doc_len) arrays: in full, or —
    ``cand`` = sorted global candidate ids — only the blocks whose doc-id
    range (block_last_doc fences) holds a candidate, restricted to the
    candidates. The skipping primitive of the OR kernel's θ-restricted
    phase and the AND walk's rarest-first intersection."""
    blob = bytes(r.postings)
    if cand is None:
        return unpack_postings(blob)
    from uci_searchengine_spark import BLOCK_SIZE

    offs = np.asarray(r.block_offsets, dtype=np.int64)
    lasts = np.asarray(r.block_last_doc, dtype=np.int64)
    firsts = np.concatenate(([base - 1], lasts[:-1]))
    lo = np.searchsorted(cand, firsts, side="right")
    hi = np.searchsorted(cand, lasts, side="right")
    keep = hi > lo
    if not keep.any():
        empty = np.array([], dtype=np.int64)
        return empty, empty, empty
    parts = []
    for bi in np.flatnonzero(keep):
        # the last block decodes to the end
        cnt = BLOCK_SIZE if bi < len(offs) - 1 else None
        db, tb, lb = unpack_postings(blob, offset=int(offs[bi]), count=cnt)
        # gaps are block-local only for the first block; later
        # blocks chain off the previous block's last doc — rebase:
        if bi > 0:
            db = db + (lasts[bi - 1] + 1)
        parts.append((db, tb, lb))
    d, tf, dl = (np.concatenate(x) for x in zip(*parts))
    m = _member(cand, d)
    return d[m], tf[m], dl[m]


def _member(ids: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Boolean mask: which of ``d`` are in the sorted array ``ids``."""
    if not ids.size:
        return np.zeros(d.size, dtype=bool)
    return ids[np.minimum(np.searchsorted(ids, d), ids.size - 1)] == d


def _mask(d, tf, dl, excl: "np.ndarray | None", incl: "np.ndarray | None"):
    """Drop the sorted global ids ``excl`` (tombstones, boolean NOT) and
    keep only ``incl`` (filter context) from decoded postings."""
    keep = None
    if excl is not None and excl.size:
        keep = ~_member(excl, d)
    if incl is not None:
        m = _member(incl, d)
        keep = m if keep is None else keep & m
    if keep is None:
        return d, tf, dl
    return d[keep], tf[keep], dl[keep]


def _bm25(w: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution of a term with weight ``w``."""
    tf_f = tf.astype(np.float64)
    return w * (
        tf_f
        * (BM25_K1 + 1.0)
        / (tf_f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl.astype(np.float64) / avgdl))
    )


def _score_bucket(
    seg: pd.DataFrame,
    idf_map: dict[str, float],
    avgdl: float,
    size: int,
    k: int,
    excl: "np.ndarray | None" = None,
    incl: "np.ndarray | None" = None,
    count_matches: bool = False,
    min_match: int = 1,
    mul: "np.ndarray | None" = None,
    add: "np.ndarray | None" = None,
    lo: "int | None" = None,
) -> pd.DataFrame:
    """θ-pruned top-k of the doc-id range ``[lo, lo + size)`` for the OR
    family: plain OR, minimum_should_match, doc-value blended and
    decayed scoring. ``lo`` defaults to the first row's bucket start
    (``size`` = the bucket size: one bucket).

    Rows accumulate term-at-a-time (``_term_rows`` order) into a dense
    range array. A doc matches when it holds ≥ ``min_match`` distinct
    query terms (rows of one term cover disjoint doc ranges, so counting
    rows is exact); its score is ``acc·mul + add`` — acc the OR-sum
    BM25, ``mul``/``add`` optional dense range-local per-doc arrays
    (decay multiplier ≥ 0, weighted doc-value bonus). The transform is
    monotone in acc, so θ (the k-th best final score) and the candidate
    set live on final scores: once no unseen doc can reach θ — in
    window j it scores at most rem[j]·max(mul over j) + max(add over j),
    rem summing the remaining rows' bounds over j — remaining rows
    decode only the blocks holding a candidate, and a candidate d stays
    only while (acc[d] + rem[win(d)])·mul[d] + add[d] ≥ θ. The window is
    the whole range without a transform (the scalar suffix-sum bound)
    and the 128-doc grid with one: high-bonus docs and the remaining
    terms' heavy blocks are rarely in the same window.

    ``excl`` / ``incl``: sorted global doc ids to drop (boolean NOT,
    tombstones) / to keep (filter context). Masked at accumulation time
    — before θ ever tightens — so pruning stays admissible for the
    post-mask top-k.

    ``count_matches``: also return the range's exact match count as
    ``(pdf, n)`` — it folds total_results into the scoring action.
    Counting needs every list decoded in full, and so does
    ``min_match > 1`` (no admissible block-max bound exists on per-doc
    ELIGIBILITY: a θ over all accumulated docs could out-tighten the
    true k-th eligible score), so both turn candidate restriction off."""
    if not len(seg) or seg["term"].nunique() < min_match:
        return (_empty_topk(), 0) if count_matches else _empty_topk()
    base = int(seg["bucket"].iloc[0]) * size if lo is None else lo
    rows = _term_rows(seg, idf_map, avgdl)
    window = size if mul is None and add is None else _WINDOW
    grid = _term_window_ub(rows, base, size, window)
    # exact suffix sums: rem[i] bounds rows i.. per window, and the empty
    # suffix rem[-1] is exactly 0.0. Sequential `remaining -= ub` left a
    # ~-1e-15 residue at the final row, which bounded a doc whose score
    # ties θ EXACTLY (the k-th doc itself) one ulp below θ and dropped it
    # from the top-k.
    rem = np.zeros((len(rows) + 1, grid.shape[1]), dtype=np.float64)
    rem[:-1] = np.cumsum(grid[::-1], axis=0)[::-1]
    unseen = rem
    if mul is not None:
        unseen = unseen * _window_max(mul, grid.shape[1], window)
    if add is not None:
        unseen = unseen + _window_max(add, grid.shape[1], window)
    unseen_max = unseen.max(axis=1)

    acc = np.zeros(size, dtype=np.float64)

    def final(loc: np.ndarray, s: np.ndarray) -> np.ndarray:
        if mul is not None:
            s = s * mul[loc]
        if add is not None:
            s = s + add[loc]
        return s

    cnt = np.zeros(size, dtype=np.int32) if min_match > 1 else None
    exhaustive = count_matches or cnt is not None
    cand: np.ndarray | None = None  # sorted global candidate ids, None = all
    for i, (_ub, w, r) in enumerate(rows):
        d, tf, dl = _mask(*_decode(r, cand, base), excl, incl)
        if not d.size:
            continue
        loc = d - base
        np.add.at(acc, loc, _bm25(w, tf, dl, avgdl))
        if cnt is not None:
            cnt[loc] += 1
        if exhaustive:
            continue
        nz = np.flatnonzero(acc > 0) if cand is None else cand - base
        if nz.size < k:
            continue
        theta = np.partition(final(nz, acc[nz]), nz.size - k)[nz.size - k]
        if cand is None and unseen_max[i + 1] >= theta:
            continue  # an unseen doc may still reach θ
        cand = nz[final(nz, acc[nz] + rem[i + 1][nz // window]) >= theta] + base

    if cnt is not None:
        nz = np.flatnonzero(cnt >= min_match)
    else:
        nz = np.flatnonzero(acc > 0) if cand is None else cand - base
    out = _select(nz, final(nz, acc[nz]), base, k)
    return (out, int(nz.size)) if count_matches else out


def _score_bucket_and(
    seg: pd.DataFrame,
    idf_map: dict[str, float],
    avgdl: float,
    size: int,
    n_terms: int,
    k: int | None,
    excl: "np.ndarray | None" = None,
    count_matches: bool = False,
    incl: "np.ndarray | None" = None,
    lo: "int | None" = None,
) -> pd.DataFrame:
    """Conjunctive (ALL-terms) top-k of the doc-id range ``[lo, lo +
    size)`` (one bucket by default, as in ``_score_bucket``):
    rarest-first posting-list intersection with block skipping. ``count_matches``
    returns ``(pdf, n)`` where n is the full intersection size — free
    here, the intersection is exact before the top-k truncation.

    The rarest term (smallest global df, then term) is decoded in full
    and defines the candidate set; every later list decodes ONLY the
    blocks whose doc-id fences contain a surviving candidate and shrinks
    the set — the classic conjunctive skip-pointer walk, here over
    block-max segment metadata with numpy set steps. Cost is bounded by
    the rarest list's length, not the head term's. Without boosts
    (df asc, term asc) is the OR kernel's (w desc, term asc) order, so
    both sum a doc's contributions in the same float order."""
    if not len(seg) or seg["term"].nunique() < n_terms:
        # a query term with no postings in this range ⇒ no doc here
        # holds all terms
        return (_empty_topk(), 0) if count_matches else _empty_topk()
    base = int(seg["bucket"].iloc[0]) * size if lo is None else lo

    # group rows by TERM: a range of several buckets — and in a
    # multi-generation index a boundary bucket (doc ranges spanning
    # generations) — holds several rows of the same term: its doc set is
    # the UNION of its rows, and intersecting the rows separately
    # (disjoint doc ranges!) would wrongly empty the result
    by_term: dict[str, list] = {}
    for _ub, _w, r in _term_rows(seg, idf_map, avgdl):
        by_term.setdefault(r.term, []).append(r)
    groups = sorted(
        by_term.items(), key=lambda kv: (int(kv[1][0].df_global), kv[0])
    )
    acc = np.zeros(size, dtype=np.float64)
    cand: np.ndarray | None = None
    for term, trows in groups:
        # the mask on the rarest list filters the whole intersection
        parts = [_mask(*_decode(r, cand, base), excl, incl) for r in trows]
        parts = [p for p in parts if p[0].size]
        if not parts:
            return (_empty_topk(), 0) if count_matches else _empty_topk()
        d, tf, dl = (np.concatenate(x) for x in zip(*parts))
        if len(parts) > 1:
            # rows hold disjoint doc ranges; one argsort restores global
            # doc order
            o = np.argsort(d, kind="stable")
            d, tf, dl = d[o], tf[o], dl[o]
        np.add.at(acc, d - base, _bm25(idf_map[term], tf, dl, avgdl))
        cand = d  # sorted ascending

    nz = cand - base
    out = _select(nz, acc[nz], base, k)
    return (out, int(nz.size)) if count_matches else out


def resolve_msm(spec: "int | str", n_terms: int) -> int:
    """ES minimum_should_match value resolution (the int/percentage
    subset): positive int = itself; negative int = n_terms + spec
    ("all but |spec|"); ``"P%"`` = trunc(P/100 · n_terms), negative
    percentage likewise relative to n_terms. The resolved value is
    clamped to ≥ 1 (ES rule: a calculated 0-or-less leaves clauses
    optional — i.e. plain OR); a value > n_terms is unsatisfiable and
    the query returns nothing (also the ES behavior)."""
    if isinstance(spec, str):
        s = spec.strip()
        if not s.endswith("%"):
            raise ValueError(f"bad minimum_should_match {spec!r}")
        pct = int(s[:-1])
        val = int(pct * n_terms / 100.0)  # trunc toward zero, ES rule
        if pct < 0:
            val = n_terms + val
    else:
        val = spec if spec >= 0 else n_terms + spec
    return max(1, val)


def score_msm(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    min_should_match: "int | str" = 1,
) -> DataFrame:
    """Top-k (doc_id, score) among docs matching at least
    ``min_should_match`` distinct query terms (ES/Lucene
    minimum_should_match over a bag of SHOULD clauses); scores are the
    same OR-sum BM25 as score_wand — eligibility changes, scores never
    do. m=1 routes to the θ-pruned OR scorer and m=n(terms) to the
    rarest-first AND scorer (both strictly faster); only the strictly
    intermediate m pays the full-decode accumulation pass."""
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    m = resolve_msm(min_should_match, len(terms))
    if m > len(terms):
        return empty
    if m <= 1:
        return score_wand(spark, index_dir, query, k, mode="or")
    if m == len(terms):
        return score_wand(spark, index_dir, query, k, mode="and")
    return _topk_over_segments(spark, index_dir, meta, terms, k, min_match=m)


def _idf_map(
    n_docs: int, seg_pdf, boosts: "dict[str, float] | None" = None
) -> dict[str, float]:
    """Per-term scoring weight for one bucket's rows: idf, times the
    query-time boost when one is given (Lucene ``term^N``). The boost
    multiplies the SAME w every block-max upper bound uses
    (``w·(k1+1)·block_max``), so θ-pruning stays admissible under
    boosts with no extra bookkeeping."""
    boosts = boosts or {}
    return {
        t: idf_fn(n_docs, int(d)) * boosts.get(t, 1.0)
        for t, d in zip(seg_pdf["term"], seg_pdf["df_global"])
    }


def score_wand(
    spark: SparkSession, index_dir: str, query: str, k: int = 10, mode: str = "or",
    boosts: "dict[str, float] | None" = None,
) -> DataFrame:
    """Top-k (doc_id, score) via block-max pruned scoring over segments.

    ``mode="or"`` (default) is the reference's disjunctive semantics
    (search.py:79-82); ``mode="and"`` keeps only docs containing EVERY
    query term (conjunctive extension — rarest-first intersection).
    ``boosts`` maps ANALYZED terms to query-time weight multipliers
    (Lucene ``term^N``)."""
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    return _topk_over_segments(
        spark, index_dir, meta, terms, k, mode=mode, boosts=boosts
    )


def _range_cuts(sc, n_buckets: int) -> list[int]:
    """Cut points of a grid of ``n_buckets`` buckets into n = min(#buckets,
    defaultParallelism) contiguous ranges ``[cuts[i], cuts[i + 1])``:
    the scatter of both distributed plans."""
    n = min(n_buckets, sc.defaultParallelism)
    return [n_buckets * i // n for i in range(n + 1)]


def _scoring_meta(meta: IndexMeta, stats) -> IndexMeta:
    """``meta`` under the corpus statistics ``stats`` = (n_docs, avgdl,
    dfs), when given."""
    if stats is None:
        return meta
    return dataclasses.replace(meta, n_docs=stats[0], avgdl=stats[1])


def _scatter(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    excl: "np.ndarray | BucketedExcl | None",
    with_positions: bool = False,
    stats: "tuple[int, float, dict] | None" = None,
):
    """The distributed plans' shared scatter: ``(cuts, ranges, read)``.
    ``ranges`` = one ``(b0, b1, ex)`` per range of ``_range_cuts``, ex
    the range's slice of a driver exclusion array (else None);
    ``read(b0, b1, ex) -> (seg, ex)`` is a task's read of its range —
    the query terms' rows of buckets ``[b0, b1)`` by the task-local
    plan's pyarrow scan (``read_pruned_segments_local``, positional
    plane kept under ``with_positions``) and, past the driver cap, the
    range's tombstone ids from the files (``BucketedExcl.ids``). df is
    resolved on the driver and shipped in the closure: ``term_dfs`` for
    several generations or split shards, else the rows' own df_global.
    ``stats`` = (n_docs, avgdl, dfs) substitutes other corpus statistics
    (federation's union corpus): its dfs, and the index's own avgdl as
    ``gen_avgdl`` — the avgdl its block-max bounds were built with, so
    the kernels inflate them admissibly."""
    from uci_searchengine_spark.operators.local_search import term_dfs

    if stats is not None:
        dfs = stats[2]
    elif meta.seg_split > 1 or meta.gens > 1:
        dfs = term_dfs(index_dir, meta, terms)
    else:
        dfs = None
    bs = meta.bucket_size
    n_b = max(1, -(-max(meta.n_docs, meta.next_doc_id) // bs))
    cuts = _range_cuts(spark.sparkContext, n_b)
    tomb = excl if isinstance(excl, BucketedExcl) else None
    ranges = [
        (b0, b1, None if excl is None or tomb is not None
         else excl[(excl >= b0 * bs) & (excl < b1 * bs)])
        for b0, b1 in zip(cuts, cuts[1:])
    ]
    read = functools.partial(
        _read_range, index_dir, meta, terms, with_positions, dfs,
        stats is not None, tomb,
    )
    return cuts, ranges, read


def _read_range(
    index_dir, meta, terms, with_positions, dfs, other_stats, tomb, b0, b1, ex
):
    """``_scatter``'s ``read``, bound there: a module function, so a task
    closure ships it by reference, not by value. ``other_stats``: the
    scoring statistics are not the index's own (``stats``)."""
    from uci_searchengine_spark.operators.local_search import (
        read_pruned_segments_local,
    )

    seg = read_pruned_segments_local(
        index_dir, meta, terms, with_positions, buckets=(b0, b1), dfs=dfs
    )
    if len(seg) and other_stats and "gen_avgdl" not in seg:
        seg["gen_avgdl"] = meta.avgdl
    if tomb is not None:
        ex = tomb.ids(b0 * meta.bucket_size, b1 * meta.bucket_size)
    return seg, ex


def run_buckets(seg: pd.DataFrame, fn, incl: "np.ndarray | None" = None) -> list:
    """A per-bucket scorer closure ``fn(key, seg_pdf[, incl=])`` called
    once per bucket of a frame: the loop of every range task
    (``run_ranges``) and of the task-local twins
    (``local_search.phrase_topk_local`` / ``boolean_topk_local``).
    Returns the non-empty outputs."""
    kw = {} if incl is None else {"incl": incl}
    parts = []
    for _, gpdf in seg.groupby("bucket", sort=False):
        out = fn(None, gpdf.reset_index(drop=True), **kw)
        if len(out):
            parts.append(out)
    return parts


def run_ranges(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    make_fn,
    schema,
    with_positions: bool = False,
    incl: "DataFrame | None" = None,
    stats: "tuple[int, float, dict] | None" = None,
) -> DataFrame:
    """The gate top-k scorers' distributed plan: ONE Python map stage
    over the bucket grid's ranges (``_scatter``, the envelope's
    scatter), ``spark.range(n, numPartitions=n).mapInPandas(task)`` —
    no segment relation, no shuffle. Each task reads its range
    (``_scatter``'s ``read``: the query terms' rows, its tombstones)
    and calls the scorer's per-bucket closure ``make_fn(excl)`` once
    per bucket (``run_buckets``). Returns the lazy per-bucket outputs
    (``schema``); the caller adds its global tail (``orderBy … limit``
    or a per-query window).

    ``incl`` (filter context): a ``doc_id`` relation of ALLOWED docs,
    keyed by range id and grouped with the range ids in one shuffle of
    the allowed ids alone — each range id rides along as a row with a
    null doc_id, so every range runs once, with an empty allowed set
    (nothing allowed) when none of its docs is. The task body is the
    same; the closure gets the range's sorted ids as keyword ``incl``."""
    excl = load_excl(index_dir, meta.bucket_size)
    cuts, ranges, read = _scatter(
        spark, index_dir, meta, terms, excl, with_positions, stats
    )

    def body(i: int, allowed: "np.ndarray | None" = None) -> list:
        seg, ex = read(*ranges[i])
        return run_buckets(seg, make_fn(ex), allowed) if len(seg) else []

    ids = spark.range(len(ranges), numPartitions=len(ranges))
    if incl is None:

        def task(batches):
            for pdf in batches:
                for i in pdf["id"].tolist():
                    if parts := body(i):
                        yield pd.concat(parts, ignore_index=True)

        return ids.mapInPandas(task, schema)
    doc = F.col("doc_id").cast("long")
    bucket = (doc / F.lit(meta.bucket_size)).cast("long")
    rid = F.when(bucket < cuts[1], 0)
    for i, c in enumerate(cuts[2:], 1):
        rid = rid.when(bucket < c, i)
    keyed = ids.select(
        F.col("id").alias("rid"), F.lit(None).cast("long").alias("doc_id")
    ).unionByName(
        incl.select(rid.otherwise(-1).cast("long").alias("rid"), doc.alias("doc_id"))
    )

    def group(key, pdf):
        i = int(key[0])
        if not 0 <= i < len(ranges):
            return pd.DataFrame()  # docs past the grid hold no postings
        allowed = np.unique(pdf["doc_id"].dropna().to_numpy().astype(np.int64))
        parts = body(i, allowed)
        return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()

    return keyed.groupBy("rid").applyInPandas(group, schema)


def _bucket_topk(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    k: int,
    mode: str = "or",
    boosts: "dict[str, float] | None" = None,
    min_match: int = 1,
    transform=None,
    incl: "DataFrame | None" = None,
    stats: "tuple[int, float, dict] | None" = None,
) -> DataFrame:
    """Every bucket's top-k (doc_id, score) of the query ``terms``:
    block-max scoring in ``run_ranges``' map stage, lazy — the top-k
    scorers' shared body before their global tail
    (``_topk_over_segments``; federation and more-like-this union or
    filter the rows first). ``min_match`` and ``transform(bucket) ->
    (mul, add)`` (a bucket's per-doc score transform, e.g. read from a
    doc-values plane) pass through to the OR kernel ``_score_bucket``;
    ``incl`` restricts eligibility to a ``doc_id`` relation of allowed
    docs; ``stats`` scores with other corpus statistics
    (``_scatter``)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    meta_s = _scoring_meta(meta, stats)
    n_docs, avgdl, bucket_size = meta_s.n_docs, meta_s.avgdl, meta.bucket_size
    n_terms = len(terms)

    def make_fn(excl_local):
        def score_fn(key, seg_pdf, *, incl=None):
            idf_map = _idf_map(n_docs, seg_pdf, boosts)
            if mode == "and":
                return _score_bucket_and(
                    seg_pdf, idf_map, avgdl, bucket_size, n_terms, k,
                    excl=excl_local, incl=incl,
                )
            mul, add = (None, None)
            if transform is not None:
                mul, add = transform(int(seg_pdf["bucket"].iloc[0]))
            return _score_bucket(
                seg_pdf, idf_map, avgdl, bucket_size, k, excl=excl_local,
                incl=incl, min_match=min_match, mul=mul, add=add,
            )

        return score_fn

    return run_ranges(
        spark, index_dir, meta, terms, make_fn, _TOPK_SCHEMA, incl=incl,
        stats=stats,
    )


def _topk_over_segments(
    spark: SparkSession, index_dir: str, meta: IndexMeta, terms: list[str],
    k: int, **kw,
) -> DataFrame:
    """Top-k (doc_id, score) of the query ``terms`` shared by the top-k
    scorers and ``serving.Searcher.top_k``: ``_bucket_topk`` (its
    keywords), then the global orderBy(score desc, doc_id asc).limit(k)
    — TakeOrderedAndProject right over the map stage."""
    return _bucket_topk(spark, index_dir, meta, terms, k, **kw).orderBy(
        F.desc("score"), F.asc("doc_id")
    ).limit(k)


_DOC_COLS = ["doc_id", "url", "title", "text"]


def fetch_bucket_docs(
    docs_dirs: list[str],
    bucket: int,
    ids: list[int],
    lowered: list[str],
) -> dict[int, tuple[str, str, str]]:
    """Co-located doc-store fetch for one bucket's winners: read ONLY
    the row groups of the bucket's own ``bucket=`` dir(s) whose doc_id
    stats cover a winner (footer-stats pruning over the doc_id-sorted
    DOCS_ROW_GROUP layout) — never a join. Both plans' envelopes call
    it for their ≤k final winners (``fetch_winner_docs``, on the
    driver). The footers, their doc_id ranges and the decoded row
    groups come from the process's memo (``index_build.footer``,
    ``Footer.read``), so a repeat query reads no metadata and decodes
    no chunk on repeat. Returns {doc_id: (url, title, snippet)} with
    snippets under the reference display rule (bm25.snippet_text)."""
    from uci_searchengine_spark.operators.bm25 import snippet_text

    idset = set(int(i) for i in ids)
    srt = sorted(idset)
    docs: dict[int, tuple[str, str, str]] = {}
    for d in docs_dirs:
        for fp in parquet_files(os.path.join(d, f"bucket={bucket}")):
            ft = footer(fp)
            need = ft.row_groups(
                "doc_id", lambda lo, hi: any(lo <= x <= hi for x in srt)
            )
            if not need:
                continue
            tbl = ft.read(need, _DOC_COLS)
            for did, url, title, text in zip(
                tbl["doc_id"], tbl["url"], tbl["title"], tbl["text"]
            ):
                k = did.as_py()
                if k in idset:
                    docs[k] = (
                        url.as_py(),
                        title.as_py(),
                        snippet_text(text.as_py(), lowered),
                    )
    return docs


def _docs_dirs(index_dir: str) -> list[str]:
    """The doc-store dir of every generation, oldest first."""
    from uci_searchengine_spark.operators.index_build import generation_dirs

    return [os.path.join(d, "docs") for d in generation_dirs(index_dir)]


def fetch_winner_docs(
    index_dir: str,
    bucket_size: int,
    ids: list[int],
    lowered: list[str],
) -> dict[int, tuple[str, str, str]]:
    """Driver-side doc-store fetch for ≤k winners from any buckets: one
    ``fetch_bucket_docs`` per bucket they fall in (never a join)."""
    dirs = _docs_dirs(index_dir)
    by_bucket: dict[int, list[int]] = {}
    for d in ids:
        by_bucket.setdefault(int(d) // bucket_size, []).append(int(d))
    docs: dict[int, tuple[str, str, str]] = {}
    for bucket, bids in by_bucket.items():
        docs.update(fetch_bucket_docs(dirs, bucket, bids, lowered))
    return docs


# the most doc ids one envelope kernel call spans: the kernel's dense
# arrays (accumulator, masks) are sized to its range, so this keeps them
# at the one-bucket bound (8e6 ids ≈ 64 MB of float64) at any corpus size
_RANGE_IDS = DOCS_PER_BUCKET


def _range_spans(buckets: np.ndarray, bucket_size: int) -> list[list[int]]:
    """The sorted distinct ``buckets`` of a frame as runs ``[b0, b1]``
    (inclusive) of whole buckets, each spanning at most
    max(``_RANGE_IDS``, bucket_size) doc ids: one run on a small index;
    on a large one, postings in buckets 0 and 249 of a 2e9-doc grid are
    two runs of one bucket each, not one 16 GB accumulator."""
    per = max(1, _RANGE_IDS // bucket_size)
    spans: list[list[int]] = []
    for b in buckets.tolist():
        if spans and b - spans[-1][0] < per:
            spans[-1][1] = b
        else:
            spans.append([b, b])
    return spans


def make_envelope_fn(
    meta: IndexMeta,
    k: int,
    mode: str,
    n_terms: int | None,
    boosts: "dict[str, float] | None" = None,
):
    """Range envelope closure builder SHARED by both plans: the
    task-local plan runs it once over the whole pruned frame
    (``local_search.local_topk_count_docs``), the distributed plan once
    per range task (``topk_count_docs``) — one code path, so the two
    plans are rank- and byte-identical by construction. Returns
    ``make_fn(excl) -> fn(key, seg_pdf, *, incl=None)``, where ``fn``
    returns ``(n_matched, [(doc_id, score)])``: the frame's exact match
    count and its ≤k best in (score desc, doc_id asc) order. The kernel
    scores the frame's buckets as doc-id ranges of whole buckets
    (``_range_spans``: one range unless the frame spans more than
    ``_RANGE_IDS`` ids); a doc's postings all lie in its bucket, so the
    sums do not depend on the split. ``key`` is unused (the per-group
    call shape); ``excl`` / ``incl`` are sorted global doc ids to drop
    (tombstones) / to keep (filter context; None = no filter)."""
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size

    def make_fn(excl):
        def fn(key, seg_pdf, *, incl=None):
            if not len(seg_pdf):
                return 0, []
            idf_map = _idf_map(n_docs, seg_pdf, boosts)
            b = seg_pdf["bucket"].to_numpy()
            spans = _range_spans(np.unique(b), bucket_size)
            n, top = 0, []
            for b0, b1 in spans:
                part = seg_pdf if len(spans) == 1 else seg_pdf[(b >= b0) & (b <= b1)]
                lo, size = b0 * bucket_size, (b1 + 1 - b0) * bucket_size
                if mode == "and":
                    pdf, m = _score_bucket_and(
                        part, idf_map, avgdl, size, n_terms, k,
                        excl=excl, count_matches=True, incl=incl, lo=lo,
                    )
                else:
                    pdf, m = _score_bucket(
                        part, idf_map, avgdl, size, k, excl=excl,
                        incl=incl, count_matches=True, lo=lo,
                    )
                n += m
                top += zip(pdf["doc_id"].tolist(), pdf["score"].tolist())
            if len(spans) > 1:
                top = sorted(top, key=lambda t: (-t[1], t[0]))[:k]
            return n, top

        return fn

    return make_fn


def gather_envelope(
    index_dir: str,
    bucket_size: int,
    parts: list,
    k: int,
    display_terms: list[str],
) -> tuple[list[dict], int]:
    """Both plans' last step: the envelope from per-range ``(n_matched,
    [(doc_id, score)])`` parts — the total summed, the ≤k global winners
    in (score desc, doc_id asc) order, their url/title/snippet fetched
    once (``fetch_winner_docs``; snippets under the reference display
    rule, raw query forms). Returns (rows, total)."""
    total = sum(n for n, _ in parts)
    top = sorted((t for _, p in parts for t in p), key=lambda t: (-t[1], t[0]))[:k]
    docs = fetch_winner_docs(
        index_dir, bucket_size, [d for d, _ in top],
        [t.lower() for t in display_terms],
    )
    rows = []
    for d, score in top:
        url, title, snip = docs.get(d, (None, None, None))
        rows.append(
            {"doc_id": d, "score": score, "url": url, "title": title,
             "snippet": snip}
        )
    return rows, total


def topk_count_docs(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    display_terms: list[str],
    terms: list[str],
    k: int,
    mode: str = "or",
    excl: "np.ndarray | BucketedExcl | None" = None,
    boosts: "dict[str, float] | None" = None,
    filters: "tuple[list, list] | None" = None,
    stats: "tuple[int, float, dict] | None" = None,
) -> tuple[list[dict], int]:
    """The search envelope on the distributed plan: ONE scatter-gather
    stage, ``sc.parallelize(ranges, n).mapPartitions(task).collect()``
    — one job, no shuffle. The bucket grid splits into n = min(#buckets,
    defaultParallelism) contiguous ranges; each task
    - scans its range of the query terms' rows (the task-local plan's
      pyarrow scan, ``read_pruned_segments_local``, with a bucket-range
      predicate) under df resolved on the driver (``term_dfs``, shipped
      in the closure, for several generations or split shards);
    - drops tombstones: its slice of the driver array or, past the
      driver cap (``excl`` a BucketedExcl), its range's ids read from
      the tombstone files (``BucketedExcl.ids``);
    - restricts eligibility under ``filters`` = (hosts, ranges) to the
      docs of its own buckets of the doc store and doc-value planes
      that pass them (``filtered.allowed_ids``, the local plan's
      predicate);
    - scores the range with the local plan's closure
      (``make_envelope_fn``) and returns (n_matched, top≤k).
    The driver merges the parts and fetches the winners' docs
    (``gather_envelope``) exactly as the local plan does, so the plans
    agree by construction. ``stats`` = (n_docs, avgdl, dfs) scores with
    other corpus statistics than the index's own (federation's union
    corpus). Returns (rows, total) like ``local_topk_count_docs``."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    smeta, n_terms = _scoring_meta(meta, stats), len(terms)
    _cuts, ranges, read = _scatter(spark, index_dir, meta, terms, excl, stats=stats)

    def task(it):
        from uci_searchengine_spark.operators import filtered

        for b0, b1, ex in it:
            seg, ex = read(b0, b1, ex)
            if not len(seg):
                yield 0, []
                continue
            incl = None
            if filters:
                incl = filtered.allowed_ids(
                    *filters,
                    lambda: filtered.read_authority(index_dir, (b0, b1)),
                    lambda f: filtered.read_doc_values(index_dir, f, (b0, b1)),
                )
            yield make_envelope_fn(smeta, k, mode, n_terms, boosts)(ex)(
                None, seg, incl=incl
            )

    sc = spark.sparkContext
    parts = sc.parallelize(ranges, len(ranges)).mapPartitions(task).collect()
    return gather_envelope(index_dir, meta.bucket_size, parts, k, display_terms)
