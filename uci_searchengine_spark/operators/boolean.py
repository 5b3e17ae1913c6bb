"""Boolean query execution over the compressed segment index.

Syntax (functions/queryparse.py): bare terms are scored OR; ``+term``
must appear; ``-term`` must not; ``"a b"`` must appear as an exact token
sequence; ``(a|b)`` is a required ANY-OF group (≥1 member must appear —
the synonym/constraint clause). Wildcards desugar via their vocabulary
expansions (``expand_wildcards``): a bare ``stem*`` is SHOULD (scored
OR, like a bare term and like ``Searcher.search`` — Lucene treats an
unsigned wildcard as SHOULD), ``+stem*`` is a required any-of group,
``-stem*`` bans every expansion. Score = the same OR-sum BM25
over all positive terms, rank (score desc, doc_id asc) — identical
contract to score_wand.

Per-bucket physical plan (the per-bucket closure ``make_boolean_fn``,
called once per bucket in the range tasks of ``wand.run_ranges`` — the
same one-stage shape as every other scorer):

* **required constraints present** (must / phrase tokens / any-of
  groups): rarest-first intersection over the constraint list — a
  single term's doc set, or a group's member-UNION — (cost bounded by
  the most selective constraint), NOT-terms subtracted with
  candidate-restricted block decode, phrases verified from the
  positional plane (or the co-located doc store), and only then are the
  remaining positive terms decoded — candidate-restricted — to complete
  the scores.
* **pure OR + NOT**: the block-max pruned OR scorer with the exclusion
  set applied at accumulation time (before θ tightens), keeping the
  pruning admissible for the post-exclusion top-k.

Reference: the UI has no boolean operators (search.py:79-82); breadth
extension.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.functions.queryparse import BoolQuery, parse_query
from uci_searchengine_spark.operators.bm25 import analyze_seq
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.phrase import (
    _candidate_positions,
    _verify_bucket,
)
from uci_searchengine_spark.operators.wand import (
    _bm25,
    _decode,
    _idf_map,
    _score_bucket,
    _select,
    run_ranges,
)

_OUT = "doc_id long, score double"


def _near_ok(
    by_term: dict, di: int, p: list[str], slop: int
) -> bool:
    """Ordered-proximity check for one candidate doc (the boolean
    surface's ``"a b"~N`` clause): greedy earliest-next chain over the
    decoded position arrays — same pinned semantics as
    phrase._near_counts, existence-only."""
    starts = by_term.get(p[0], {}).get(di)
    if starts is None or not starts.size:
        return False
    cur = starts.astype(np.int64)
    okv = np.ones(cur.shape, dtype=bool)
    for t in p[1:]:
        pos = by_term.get(t, {}).get(di)
        if pos is None or not pos.size:
            return False
        idx = np.searchsorted(pos, cur + 1)
        valid = idx < pos.size
        cur = np.where(valid, pos[np.minimum(idx, pos.size - 1)], cur)
        okv &= valid
    okv &= (cur - starts.astype(np.int64)) <= (len(p) - 1 + slop)
    return bool(okv.any())


def _setdiff_sorted(cand: np.ndarray, drop: np.ndarray) -> np.ndarray:
    if not cand.size or not drop.size:
        return cand
    p = np.clip(np.searchsorted(drop, cand), 0, drop.size - 1)
    return cand[drop[p] != cand]


import re as _re2

_WILDCARD_TOK = _re2.compile(r"(?<!\S)([+-]?)(\w+)\*(?!\S)")
_GROUP_TOK = _re2.compile(r"([+-]?)\(([^)]*)\)")
_WILD_PIECE = _re2.compile(r"^(\w+)\*$")
_PHRASE_RE_Q = _re2.compile(r'[+-]?"[^"]*"')


def expand_wildcards(query: str, expander, analyze) -> (
    "tuple[str, list[list[str]], list[str], list[str]] | None"
):
    """Resolve ``stem*`` wildcards (top-level AND inside ``(a|b*)``
    groups, outside quoted phrases) into VERBATIM term structures that
    bypass the analyzer — expansions come from the stored vocabulary and
    must not round-trip a stemmer (Porter is not idempotent:
    'univers' → 'univ', so a textual ``(univers)`` rewrite would stem
    into a nonexistent term and silently empty the result).

    Returns ``(clean_query, injected_groups, injected_nots,
    injected_ors)`` where ``clean_query`` has the wildcard clauses
    removed (the normal parser handles the rest), ``injected_groups``
    are required any-of member lists (from ``+stem*`` and groups),
    ``injected_nots`` are exclusion terms, and ``injected_ors`` are
    optional scored terms (a BARE ``stem*`` is SHOULD, matching both
    Lucene and ``Searcher.search``'s treatment of unsigned wildcards —
    it must not exclude docs that match only the other bare terms) —
    all already index-vocabulary terms. Literal pieces of a mixed group
    like ``(dat*|ml)`` ARE analyzed (via ``analyze``, the index's
    chain). Returns None when a REQUIRED wildcard clause (``+stem*`` or
    an unsigned group) has no satisfiable expansion (the caller returns
    the empty result rather than silently dropping the requirement); a
    bare or negated wildcard with no expansion just disappears (nothing
    to score / exclude)."""
    injected_groups: list[list[str]] = []
    injected_nots: list[str] = []
    injected_ors: list[str] = []
    unsat = False

    def handle_group(m: "_re2.Match") -> str:
        nonlocal unsat
        sign, body = m.group(1), m.group(2)
        if "*" not in body:
            return m.group(0)  # plain group: normal parser handles it
        members: dict[str, None] = {}
        for piece in body.split("|"):
            wm = _WILD_PIECE.match(piece.strip())
            if wm:
                for t in expander(wm.group(1).lower()):
                    members.setdefault(t)
            else:
                for t in analyze(piece):
                    members.setdefault(t)
        mem = list(members)
        if sign == "-":
            injected_nots.extend(mem)
        elif not mem:
            unsat = True
        else:
            injected_groups.append(mem)
        return " "

    def handle_tok(m: "_re2.Match") -> str:
        nonlocal unsat
        sign, stem = m.group(1), m.group(2).lower()
        terms = expander(stem)
        if sign == "-":
            injected_nots.extend(terms)
        elif sign == "":
            injected_ors.extend(terms)  # SHOULD; empty expansion drops
        elif not terms:
            unsat = True
        else:
            injected_groups.append(terms)
        return " "

    def rewrite(segment: str) -> str:
        return _WILDCARD_TOK.sub(handle_tok, _GROUP_TOK.sub(handle_group, segment))

    parts = []
    last = 0
    for m in _PHRASE_RE_Q.finditer(query):  # quoted phrases untouched
        parts.append(rewrite(query[last : m.start()]))
        parts.append(m.group(0))
        last = m.end()
    parts.append(rewrite(query[last:]))
    if unsat:
        return None
    return "".join(parts), injected_groups, injected_nots, injected_ors


def boolean_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    phrase_method: str = "auto",
    inject=None,
    synonyms: "dict[str, list[str]] | None" = None,
) -> DataFrame:
    """Top-k (doc_id, score) under the boolean syntax. ``stem*``
    wildcards are expanded against the vocabulary first
    (``expand_wildcards`` — verbatim injection, never re-analyzed).
    ``synonyms`` = a RAW query-time synonym map, analyzer-normalized
    here and applied per-clause (functions/synonyms.py: SHOULD joins,
    +must becomes a required any-of group, NOT bans the class,
    phrases untouched)."""
    meta = IndexMeta.load(index_dir)
    if inject is None and "*" in query:
        from uci_searchengine_spark.operators.bm25 import analyze_seq
        from uci_searchengine_spark.operators.prefix import expand_prefix

        res = expand_wildcards(
            query,
            lambda p: expand_prefix(spark, index_dir, p),
            lambda s: analyze_seq(meta, s),
        )
        if res is None:
            return spark.createDataFrame([], _OUT)
        query, gs, ns, ors = res
        inject = (gs, ns, ors)
    bq, all_terms, use_pos = boolean_plan(
        meta, query, phrase_method, inject, synonyms
    )
    empty = spark.createDataFrame([], _OUT)
    if not bq.positive_terms:
        return empty
    # tombstones join the NOT set (make_boolean_fn)
    per_bucket = run_ranges(
        spark, index_dir, meta, all_terms,
        make_boolean_fn(meta, index_dir, bq, k, use_pos), _OUT,
        with_positions=bool(bq.phrases) and use_pos,
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def boolean_plan(
    meta: IndexMeta,
    query: str,
    phrase_method: str = "auto",
    inject=None,
    synonyms: "dict[str, list[str]] | None" = None,
):
    """Shared prelude of the distributed and task-local boolean plans:
    (parsed query, deduped positive+negative terms, positional-plane
    decision) — including the validation error. ``inject`` =
    (verbatim_groups, verbatim_nots[, verbatim_ors]) from
    ``expand_wildcards`` — folded in AFTER parsing so expansion terms
    never round-trip the analyzer. ``synonyms`` (raw map) is
    normalized against THIS index's analysis chain and applied before
    the wildcard injection (expansions are concrete index terms — the
    Lucene rule: rewrites are not synonym-expanded)."""
    bq: BoolQuery = parse_query(query, lambda s: analyze_seq(meta, s))
    if synonyms:
        from uci_searchengine_spark.functions.synonyms import (
            apply_synonyms,
            normalize_synonyms,
        )

        bq = apply_synonyms(
            bq,
            normalize_synonyms(
                synonyms, lambda s: analyze_seq(meta, s)
            ),
        )
    if inject is not None:
        gs, ns, ors = inject if len(inject) == 3 else (*inject, [])
        for g in gs:
            mem = [t for t in dict.fromkeys(g)]
            if len(mem) == 1:
                bq.must_terms.append(mem[0])
            elif mem:
                bq.groups.append(mem)
        if ors:
            bq.or_terms = list(dict.fromkeys(bq.or_terms + list(ors)))
        if ns:
            bq.not_terms = list(dict.fromkeys(bq.not_terms + list(ns)))
            ban = set(bq.not_terms)
            # or_terms may drop banned members (pure optimization: a doc
            # holding the term is excluded anyway, so it never scores).
            # must_terms must NOT be filtered: '+data -dat*' with 'data'
            # in the expansion is an honest contradiction and must
            # return nothing — the NOT subtraction empties the
            # intersection; dropping the requirement instead silently
            # widened the result set (queryparse.py's documented rule).
            bq.or_terms = [t for t in bq.or_terms if t not in ban]
        bq.must_terms = list(dict.fromkeys(bq.must_terms))
    has_pos_plane = bool(getattr(meta, "positions", False))
    use_pos = (
        has_pos_plane if phrase_method == "auto" else phrase_method == "positions"
    )
    if bq.phrases and use_pos and not has_pos_plane:
        raise ValueError("index has no positional plane")
    all_terms = list(dict.fromkeys(bq.positive_terms + bq.not_terms))
    return bq, all_terms, use_pos


def make_boolean_fn(
    meta: IndexMeta, index_dir: str, bq: "BoolQuery", k: int, use_pos: bool
):
    """Per-bucket boolean closure builder SHARED by the distributed path
    (``boolean_search``, via ``wand.run_ranges``) and the task-local path
    (``local_search.boolean_topk_local``) — one code path, identical
    results by construction."""
    from uci_searchengine_spark.operators.index_build import generation_dirs

    pos = bq.positive_terms
    req = bq.required_terms
    neg = bq.not_terms
    grps = [list(g) for g in getattr(bq, "groups", [])]
    docs_dirs = [os.path.join(d, "docs") for d in generation_dirs(index_dir)]
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size
    stem = bool(getattr(meta, "stem", False))
    pos_set, req_set, neg_set = set(pos), set(req), set(neg)
    phrases = bq.phrases
    slops = bq.slops() if hasattr(bq, "slops") else [0] * len(phrases)

    def make_fn(tomb):
        def score_fn(key, seg_pdf):
            out_empty = pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
            if not len(seg_pdf):
                return out_empty
            bucket = int(seg_pdf["bucket"].iloc[0])
            base = bucket * bucket_size
            in_pos = seg_pdf["term"].isin(pos_set)
            pos_rows = seg_pdf[in_pos]
            neg_rows = seg_pdf[seg_pdf["term"].isin(neg_set)]
            idf_map = _idf_map(n_docs, pos_rows)
            if not req_set and not grps:
                excl = tomb
                if len(neg_rows):
                    parts = [_decode(r, None, base)[0] for r in neg_rows.itertuples(index=False)]
                    if parts:
                        neg_ids = np.concatenate(parts)
                        excl = (
                            np.union1d(tomb, neg_ids)
                            if tomb is not None
                            else np.unique(neg_ids)
                        )
                return _score_bucket(
                    pos_rows, idf_map, avgdl, bucket_size, k, excl=excl
                )

            # --- required-set path: intersect, subtract, verify, then score
            req_rows = pos_rows[pos_rows["term"].isin(req_set)]
            if req_rows["term"].nunique() < len(req_set):
                return out_empty  # a required term has no postings here
            # group rows per TERM: multi-generation boundary buckets carry
            # one row per generation for the same term — its doc set is the
            # UNION of the rows (intersecting them would wrongly empty)
            by_term_rows: dict[str, list] = {}
            for r in pos_rows.itertuples(index=False):
                by_term_rows.setdefault(r.term, []).append(r)
            # constraints = required single terms AND any-of groups —
            # each is "doc must be in the UNION of these rows' doc sets".
            # Rarest-first (summed df estimate) so the intersection cost
            # is bounded by the most selective constraint.
            constraints: list[tuple[int, str, list]] = []
            for t in sorted(req_set):
                trows = by_term_rows[t]
                constraints.append((int(trows[0].df_global), t, trows))
            for g in grps:
                rows_g: list = []
                df_g = 0
                for m in g:
                    for r in by_term_rows.get(m, []):
                        rows_g.append(r)
                        df_g += int(r.df_global)
                if not rows_g:
                    # no member of this group has postings in the bucket
                    return out_empty
                constraints.append((df_g, "|".join(g), rows_g))
            constraints.sort(key=lambda c: (c[0], c[1]))
            cand: np.ndarray | None = None
            for _df, _key, trows in constraints:
                parts = []
                for r in trows:
                    d, _tf, _dl = _decode(r, cand, base)
                    if d.size:
                        parts.append(d)
                if not parts:
                    return out_empty
                # union: same-term generation rows are disjoint, but a
                # GROUP's members can share docs — np.unique covers both
                d = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
                cand = d  # ascending
            if tomb is not None:
                cand = _setdiff_sorted(cand, tomb)
                if not cand.size:
                    return out_empty
            for r in neg_rows.itertuples(index=False):
                d, _tf, _dl = _decode(r, cand, base)
                cand = _setdiff_sorted(cand, d)
                if not cand.size:
                    return out_empty
            if phrases:
                if use_pos:
                    by_term: dict[str, dict] = {}
                    for r in pos_rows.itertuples(index=False):
                        if any(r.term in p for p in phrases):
                            # merge per-generation rows (disjoint doc keys)
                            by_term.setdefault(r.term, {}).update(
                                _candidate_positions(r, cand, base)
                            )
                    keep = []
                    for di in cand:
                        di = int(di)
                        ok = True
                        for p, sl in zip(phrases, slops):
                            if sl > 0:
                                if not _near_ok(by_term, di, p, sl):
                                    ok = False
                                    break
                                continue
                            s = by_term[p[0]].get(di)
                            if s is None:
                                ok = False
                                break
                            for t in p[1:]:
                                nxt = by_term[t].get(di)
                                if nxt is None or not s.size:
                                    s = np.empty(0, dtype=np.int64)
                                    break
                                s = np.intersect1d(s + 1, nxt, assume_unique=True)
                            if not s.size:
                                ok = False
                                break
                        if ok:
                            keep.append(di)
                    cand = np.asarray(keep, dtype=np.int64)
                else:
                    survivors = set(cand.tolist())
                    for p, sl in zip(phrases, slops):
                        occ = _verify_bucket(
                            docs_dirs, bucket,
                            np.fromiter(survivors, dtype=np.int64), p, stem,
                            slop=sl,
                        )
                        survivors = {d for d in survivors if occ.get(d, 0) > 0}
                        if not survivors:
                            return out_empty
                    cand = np.asarray(sorted(survivors), dtype=np.int64)
                if not cand.size:
                    return out_empty
            # complete the scores: every positive term, candidate-restricted.
            # Iterate in sorted-term order: rows of the SAME term cover
            # disjoint doc ranges (generations), so only the across-term
            # float-add order matters — pinning it makes the score bit-equal
            # between the distributed and the task-local plan regardless
            # of the rows' order in the frame.
            acc = np.zeros(bucket_size, dtype=np.float64)
            for r in sorted(
                pos_rows.itertuples(index=False), key=lambda r: r.term
            ):
                d, tf, dl = _decode(r, cand, base)
                np.add.at(acc, d - base, _bm25(idf_map[r.term], tf, dl, avgdl))
            nz = cand - base
            return _select(nz, acc[nz], base, k)

        return score_fn

    return make_fn


def boolean_results(
    spark: SparkSession, index_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Boolean top-k joined to the doc store (url/title/snippet/score).
    Snippets highlight the POSITIVE analyzed terms — negated terms must
    not be promoted in the display."""
    from uci_searchengine_spark.operators.bm25 import attach_docs

    meta = IndexMeta.load(index_dir)
    bq = parse_query(query, lambda s: analyze_seq(meta, s))
    topk = boolean_search(spark, index_dir, query, k)
    return attach_docs(spark, index_dir, topk, bq.positive_terms)
