"""Task-local execution of the search envelope — same kernel, no job.

At serving time a query's pruned input is tiny no matter how big the
corpus is: partition pruning keeps only the query terms' ``shard=``
dirs, and the row filter keeps only those terms' posting rows. When
those pruned bytes fit ONE task's budget, scheduling a distributed job
buys nothing — the whole query is one task — and costs a Spark job
launch + Python-worker round-trip per query. This module scores the
pruned frame of a pyarrow scan of those files in-process, as ONE doc-id
range, with the range closure the distributed plan runs per task
(``wand.make_envelope_fn`` — shared, not copied): the distributed plan
is this plan, sharded into bucket ranges (``wand.topk_count_docs``),
and both finish with ``wand.gather_envelope``. Likewise the phrase and
boolean twins (``phrase_topk_local``, ``boolean_topk_local``) run their
per-bucket closures through the loop (``wand.run_buckets``) each range
task of the gate scorers' map stage runs (``wand.run_ranges``).

Rank/byte identity with the distributed plan is by construction (one
closure, one range-independent accumulation order) and asserted by
tests/test_local_search.py and tests/test_range_split.py across or/and
modes, multi-generation appends, seg_split>1 fragments, tombstones and
filters.

The distributed plan remains the executor for head-term / analytic
queries: ``serving.Searcher`` picks per query by the pruned shard
dirs' on-disk bytes (``pruned_shard_bytes``), so a 100 TB index with
multi-GB head shards serves those from the cluster and everything else
from the resident process.

Reference parity: this is the latency surface of GET /api/search
(backend/app/api/search.py:67-126) — the reference serves every query
in-process from SQLite; the Spark engine matches that shape exactly
when the data allows and degrades to the cluster when it doesn't.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from uci_searchengine_spark.operators import wand as _wand
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    footer,
    generation_avgdl,
    generation_dirs,
    parquet_files,
)


def _shard_files(index_dir: str, shards: "list[int] | None" = None) -> list[str]:
    """Segment files of the ``shard=`` dirs ``shards`` (None = all),
    every generation."""
    out: list[str] = []
    for d in generation_dirs(index_dir):
        root = os.path.join(d, "segments")
        if shards is not None:
            names = [f"shard={s}" for s in shards]
        else:
            names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        out += [f for n in names for f in parquet_files(os.path.join(root, n))]
    return out


def pruned_shard_bytes(index_dir: str, shards: list[int]) -> int:
    """On-disk bytes of the query's pruned scan: the matched ``shard=``
    dirs across all generations. The local/distributed decision input —
    an upper bound on what the local path will read (the term row filter
    only shrinks it)."""
    return sum(os.path.getsize(f) for f in _shard_files(index_dir, shards))


def _sum_dfs(terms, dfs) -> dict[str, int]:
    """The multi-fragment / multi-generation df rule: a term's global df
    is the sum of its rows' fragment-local ``df`` — exact, because the
    pruned files hold each query term's ENTIRE posting list."""
    out: dict[str, int] = {}
    for t, d in zip(terms, dfs):
        out[t] = out.get(t, 0) + int(d)
    return out


def read_pruned_segments_local(
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    with_positions: bool = False,
    buckets: "tuple[int, int] | None" = None,
    dfs: "dict[str, int] | None" = None,
) -> pd.DataFrame:
    """The query's segment rows, the one segment read of every query
    plan: shard-dir (partition) pruning, term row filter, positional-plane
    column pruning (kept when ``with_positions`` — the phrase path),
    per-generation ``gen_avgdl``, and the multi-fragment/multi-generation
    df_global resolution (sum of fragment-local df per term).
    ``buckets`` = ``(b0, b1)`` keeps one bucket range's rows (a range
    task of the distributed plans, ``wand._scatter``), whose df then
    comes from the driver as ``dfs`` (``term_dfs``). Each file's row
    groups are pruned on the term (and bucket) min/max of its memoized
    footer (``index_build.footer``) and only those are read, from the
    process's chunk memo (``Footer.read``): a repeated query in the
    same process reads no footer and decodes no chunk on repeat."""
    import pyarrow as pa
    import pyarrow.compute as pc

    shard_map = _wand._shards_for_terms(terms, meta.num_shards)
    shards = sorted(set(shard_map.values()))
    want = pa.array(terms, pa.string())
    dirs = generation_dirs(index_dir)
    multi = len(dirs) > 1
    parts = []
    for d in dirs:
        ga = generation_avgdl(d) if multi else None
        for s in shards:
            for f in parquet_files(os.path.join(d, "segments", f"shard={s}")):
                ft = footer(f)
                rgs = ft.row_groups(
                    "term", lambda lo, hi: any(lo <= t <= hi for t in terms)
                )
                if buckets is not None:
                    rgs = sorted(set(rgs) & set(ft.row_groups(
                        "bucket",
                        lambda lo, hi: lo < buckets[1] and hi >= buckets[0],
                    )))
                cols = [
                    c for c in ft.schema.names
                    if with_positions or c not in ("positions", "pos_block_off")
                ]
                if rgs:
                    tbl = ft.read(rgs, cols)
                    keep = pc.is_in(tbl["term"], value_set=want)
                    if buckets is not None:
                        b = tbl["bucket"]
                        keep = pc.and_(keep, pc.and_(
                            pc.greater_equal(b, buckets[0]), pc.less(b, buckets[1])
                        ))
                    tbl = tbl.filter(keep)
                else:
                    tbl = ft.schema.empty_table().select(cols)
                if multi:
                    tbl = tbl.append_column(
                        "gen_avgdl", pa.array([ga] * len(tbl), pa.float64())
                    )
                parts.append(tbl)
    if not parts:
        return pd.DataFrame()
    pdf = pa.concat_tables(parts, promote_options="default").to_pandas()
    if dfs is None and (
        getattr(meta, "seg_split", 1) > 1 or getattr(meta, "gens", 1) > 1
    ):
        dfs = _sum_dfs(pdf["term"], pdf["df"])
    if dfs is not None:
        pdf["df_global"] = pdf["term"].map(dfs).astype("int64")
    return pdf


def term_dfs(index_dir: str, meta: IndexMeta, terms: list[str]) -> dict[str, int]:
    """Global df of each query term present in the index: row ``df``
    summed over the pruned files of every generation and fragment — the
    df the distributed plans resolve on the driver and ship to their
    range tasks (``wand._scatter``), and federation's per-member df. A
    footer-pruned read of the term/df columns (row groups whose term
    range holds a query term, from the memoized footers and the chunks
    they share with the scan): the driver runs it per query."""
    import pyarrow as pa
    import pyarrow.compute as pc

    shards = sorted(set(_wand._shards_for_terms(terms, meta.num_shards).values()))
    want = pa.array(terms, pa.string())
    rows_t: list[str] = []
    rows_df: list[int] = []
    for f in _shard_files(index_dir, shards):
        ft = footer(f)
        rgs = ft.row_groups("term", lambda lo, hi: any(lo <= t <= hi for t in terms))
        if not rgs:
            continue
        t = ft.read(rgs, ["term", "df"])
        t = t.filter(pc.is_in(t["term"], value_set=want))
        rows_t += t["term"].to_pylist()
        rows_df += t["df"].to_pylist()
    return _sum_dfs(rows_t, rows_df)


def local_topk_count_docs(
    index_dir: str,
    meta: IndexMeta,
    display_terms: list[str],
    terms: list[str],
    k: int,
    mode: str = "or",
    excl: "np.ndarray | None" = None,
    boosts: "dict[str, float] | None" = None,
    incl: "np.ndarray | None" = None,
) -> tuple[list[dict], int]:
    """In-process twin of ``wand.topk_count_docs``: the SAME range
    closure, called once over the whole pruned frame, then the same
    ``gather_envelope`` (≤k winners' docs fetched once, through the
    process's footer memo). Returns (rows, total) in the
    identical shape. ``incl``: filter context as the sorted driver array
    of allowed doc ids."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    seg = read_pruned_segments_local(index_dir, meta, terms)
    if not len(seg):
        return [], 0
    fn = _wand.make_envelope_fn(meta, k, mode, len(terms), boosts)(excl)
    return _wand.gather_envelope(
        index_dir, meta.bucket_size, [fn(None, seg, incl=incl)], k,
        display_terms,
    )


def _merge_bucket_outputs(
    parts: list[pd.DataFrame], k: int
) -> list[dict]:
    """Global merge of per-bucket scorer outputs — the in-process twin
    of the distributed plans' ``orderBy(score desc, doc_id asc).limit(k)``."""
    if not parts:
        return []
    allr = pd.concat(parts, ignore_index=True)
    if not len(allr):
        return []
    order = np.lexsort(
        (allr["doc_id"].to_numpy(), -allr["score"].to_numpy())
    )[:k]
    out = allr.iloc[order]
    rows = []
    for r in out.itertuples(index=False):
        d = {"doc_id": int(r.doc_id), "score": float(r.score)}
        if hasattr(r, "n_occ"):
            d["n_occ"] = int(r.n_occ)
        rows.append(d)
    return rows


def phrase_topk_local(
    index_dir: str,
    meta: IndexMeta,
    phrase: str,
    k: int = 10,
    method: str = "auto",
    excl: "np.ndarray | None" = None,
    slop: int = 0,
) -> list[dict]:
    """In-process twin of ``phrase.phrase_search``: the SAME per-bucket
    closure (``phrase.make_phrase_fn`` — shared, not copied) called by
    the same loop (``wand.run_buckets``) over the same pruned files,
    positional plane included when the strategy uses it. Returns
    [(doc_id, score, n_occ)] rows in the identical (score desc, doc_id
    asc) top-k order. ``slop`` relaxes adjacency to
    ordered proximity (functions/phrase.py semantics)."""
    from uci_searchengine_spark.operators.phrase import (
        make_phrase_fn,
        phrase_plan,
    )

    seq, terms, use_pos = phrase_plan(meta, phrase, method, slop)
    if not seq:
        return []
    seg = read_pruned_segments_local(
        index_dir, meta, terms, with_positions=use_pos
    )
    if not len(seg):
        return []
    fn = make_phrase_fn(meta, index_dir, seq, terms, k, use_pos, slop)(excl)
    return _merge_bucket_outputs(_wand.run_buckets(seg, fn), k)


def boolean_topk_local(
    index_dir: str,
    meta: IndexMeta,
    query: str,
    k: int = 10,
    phrase_method: str = "auto",
    excl: "np.ndarray | None" = None,
    inject=None,
    synonyms: "dict[str, list[str]] | None" = None,
) -> list[dict]:
    """In-process twin of ``boolean.boolean_search``: the SAME per-bucket
    closure (``boolean.make_boolean_fn``) and loop (``wand.run_buckets``)
    over the same pruned files —
    +must/-not/"phrase" semantics, tombstones joining the NOT set, the
    identical (score desc, doc_id asc) top-k. ``inject`` = verbatim
    wildcard expansions from ``boolean.expand_wildcards``; ``synonyms``
    = the raw query-time map (functions/synonyms.py)."""
    from uci_searchengine_spark.operators.boolean import (
        boolean_plan,
        make_boolean_fn,
    )

    bq, all_terms, use_pos = boolean_plan(
        meta, query, phrase_method, inject, synonyms
    )
    if not bq.positive_terms:
        return []
    seg = read_pruned_segments_local(
        index_dir, meta, all_terms,
        with_positions=bool(bq.phrases) and use_pos,
    )
    if not len(seg):
        return []
    fn = make_boolean_fn(meta, index_dir, bq, k, use_pos)(excl)
    return _merge_bucket_outputs(_wand.run_buckets(seg, fn), k)


# ---------------------------------------------------------------- suggest
# Job-free "did you mean" for the local plan: the zero-hit path of the
# envelope otherwise pays 2+ Spark jobs (membership probe + a vocab scan
# per unknown term — operators/suggest.py). The vocabulary is the
# smallest plane of the index (term+df columns only); the resident
# Searcher caches it once and corrections replicate suggest()'s exact
# semantics (length bound → trigram prefilter → levenshtein → rank
# (dist asc, df desc, term asc)), pinned equal by test.


def _levenshtein(a: str, b: str) -> int:
    """Unit-cost edit distance — same definition as Spark's
    ``F.levenshtein`` (no transpositions)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _trigrams(t: str) -> set[str]:
    # replica of suggest.py's SQL transform: substring(t, i+1, 3) for
    # i in 0..greatest(len-3, 0)
    return {t[i : i + 3] for i in range(max(len(t) - 3, 0) + 1)}


def vocab_col_bytes(index_dir: str) -> int:
    """Compressed bytes of the vocabulary plane (term + df columns)
    across every segment file — footer metadata only. The policy input
    for serving local suggestions: the vocab is orders of magnitude
    smaller than the postings plane, so this usually fits locally even
    when the postings do not."""
    total = 0
    for f in _shard_files(index_dir):
        md = footer(f).metadata
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema in ("term", "df"):
                    total += col.total_compressed_size
    return total


def vocab_local(index_dir: str) -> pd.DataFrame:
    """(term, df) — pyarrow replica of ``suggest.vocab``: df summed over
    segment rows across shards/fragments/generations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = [pq.read_table(f, columns=["term", "df"]) for f in _shard_files(index_dir)]
    if not parts:
        return pd.DataFrame({"term": [], "df": []})
    pdf = pa.concat_tables(parts).to_pandas()
    return (
        pdf.groupby("term", as_index=False)["df"].sum().astype({"df": "int64"})
    )


class VocabIndex:
    """Resident vocabulary prepared for vectorized correction: padded
    code-point matrix (numpy DP over ALL candidates at once) + trigram
    inverted lists (the prefilter as array lookups instead of a python
    predicate per term). Built once per Searcher; ~O(vocab) memory —
    the vocab plane already passed the local-bytes policy."""

    def __init__(self, pdf: pd.DataFrame):
        self.terms = pdf["term"].to_numpy()
        self.df = pdf["df"].to_numpy().astype("int64")
        n = len(self.terms)
        self.lens = np.fromiter(
            (len(t) for t in self.terms), dtype=np.int32, count=n
        )
        L = int(self.lens.max()) if n else 0
        self.mat = np.zeros((n, L), dtype=np.uint32)
        for i, t in enumerate(self.terms):
            if t:
                self.mat[i, : len(t)] = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                )
        inv: dict[str, list[int]] = {}
        for i, t in enumerate(self.terms):
            for g in _trigrams(t):
                inv.setdefault(g, []).append(i)
        self.inv = {g: np.asarray(v, dtype=np.int64) for g, v in inv.items()}


def _lev_many(
    mat: np.ndarray, lens: np.ndarray, w: str
) -> np.ndarray:
    """Edit distance of every (padded) candidate row against ``w`` —
    one DP, vectorized over candidates; exact ``F.levenshtein``."""
    n = len(lens)
    m = len(w)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    wc = np.frombuffer(w.encode("utf-32-le"), dtype=np.uint32)
    L = int(lens.max())
    res = np.full(n, m, dtype=np.int64)  # lens==0 → m
    prev = np.tile(np.arange(m + 1, dtype=np.int64), (n, 1))
    for j in range(1, L + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = j
        col = mat[:, j - 1]
        for kk in range(1, m + 1):
            cost = (col != wc[kk - 1]).astype(np.int64)
            cur[:, kk] = np.minimum(
                np.minimum(prev[:, kk] + 1, cur[:, kk - 1] + 1),
                prev[:, kk - 1] + cost,
            )
        at = lens == j
        if at.any():
            res[at] = cur[at, m]
        prev = cur
    return res


def suggest_local(
    vocab: "VocabIndex | pd.DataFrame", word: str, k: int = 5, max_dist: int = 2
) -> list[dict]:
    """Replica of ``suggest.suggest`` over a resident vocabulary: the
    same length bound, the same trigram-prefilter recall trade for
    words ≥4 chars, the same (dist asc, df desc, term asc) top-k."""
    v = vocab if isinstance(vocab, VocabIndex) else VocabIndex(vocab)
    w = word.lower()
    idx = np.flatnonzero(np.abs(v.lens - len(w)) <= max_dist)
    if len(w) >= 4 and idx.size:
        grams = sorted({w[i : i + 3] for i in range(max(len(w) - 2, 1))})
        lists = [v.inv[g] for g in grams if g in v.inv]
        if not lists:
            return []
        hit = np.unique(np.concatenate(lists))
        idx = idx[np.isin(idx, hit, assume_unique=True)]
    if not idx.size:
        return []
    dist = _lev_many(v.mat[idx], v.lens[idx], w)
    keep = dist <= max_dist
    idx, dist = idx[keep], dist[keep]
    if not idx.size:
        return []
    # (dist asc, df desc, term asc) — survivors are few; python sort
    # keeps the exact string collation of the Spark orderBy
    rows = sorted(
        zip(dist.tolist(), (-v.df[idx]).tolist(), (str(t) for t in v.terms[idx]))
    )[:k]
    return [{"term": t, "df": -nd, "dist": d} for d, nd, t in rows]


def suggest_query_local(
    index_dir: str,
    meta: IndexMeta,
    query: str,
    vocab: "VocabIndex | pd.DataFrame",
    max_dist: int = 2,
) -> "str | None":
    """Replica of ``suggest.suggest_query``: correct each UNKNOWN
    analyzed term from the resident vocabulary; None when every term is
    known or nothing is correctable."""
    from uci_searchengine_spark.operators.bm25 import terms_for_index

    v = vocab if isinstance(vocab, VocabIndex) else VocabIndex(vocab)
    terms = terms_for_index(meta, query)
    if not terms:
        return None
    seg = read_pruned_segments_local(index_dir, meta, terms)
    seen = set(seg["term"]) if len(seg) else set()
    unknown = [t for t in terms if t not in seen]
    if not unknown:
        return None
    fixes: dict[str, str] = {}
    for t in unknown:
        top = suggest_local(v, t, k=1, max_dist=max_dist)
        if top:
            fixes[t] = top[0]["term"]
    if not fixes:
        return None
    return " ".join(fixes.get(t, t) for t in terms)
