"""Long-lived serving layer: one analyzed index, many queries.

The reference serves queries from a resident FastAPI process with the
SQLite handles open (backend/app/api/search.py, main.py); the Spark
analog is a resident ``Searcher`` that loads the index metadata once and
the segment/doc-store DataFrames on first use, and reuses them for every
query — saving per-query meta reads, file listings, and schema inference
that a bare ``score_wand(spark, index_dir, q)`` call repays each time.

Per query: partition-pruned segment scan of the query terms' shards →
block-max scoring of doc-id ranges → global top-k. The search envelope
scores in-process or in one scatter-gather Spark stage
(``_search_impl``); the relational surfaces (``top_k``) prune the
CACHED segment DataFrame's relation, so the same filters reach the
same parquet scan.
"""

from __future__ import annotations

import functools
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators import wand as _wand
from uci_searchengine_spark.operators.bm25 import (
    query_terms,
    terms_for_index,
)
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    load_docs,
    load_segments,
)


class Searcher:
    """Resident query service over a built index.

    ``local_bytes_limit`` — per-query plan choice for ``search()``: when
    the query terms' pruned ``shard=`` dirs total at most this many
    on-disk bytes, the envelope executes in-process over a pyarrow scan
    of the same files with the same range closure
    (operators/local_search.py — AQE's localize-a-tiny-exchange decision
    applied to serving); above it, the distributed plan runs. 0 disables
    the local path."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        local_bytes_limit: int = 64 << 20,
        query_cache: int = 256,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self._meta_state = self._read_meta_state()
        self.meta = IndexMeta.load(index_dir)
        self.local_bytes_limit = local_bytes_limit
        self.last_plan: str | None = None  # "local" | "spark" (search())
        # LRU envelope cache (Lucene/ES query-cache analog), invalidated
        # by the index-state token (tombstone writes; a new generation
        # reloads the Searcher anyway). 0 disables.
        from collections import OrderedDict

        self._qcache_max = int(query_cache)
        # value = (envelope, plan that produced it) so a cache hit can
        # restore last_plan for health observability
        self._qcache: "OrderedDict[tuple, tuple[dict, str]]" = OrderedDict()
        self._qcache_token = None
        self.cache_hits = 0
        self._docs_bytes: int | None = None  # doc-store size, lazy
        self._vocab_pdf = None  # resident (term, df) frame, lazy
        self._vocab_bytes: int | None = None

    # analyzed on first use, then reused by the relational statistics
    # (http_api's crawler statistics); every query path reads the files
    # directly, so a reload that only serves queries starts no Spark read
    @functools.cached_property
    def _segments(self) -> DataFrame:
        return load_segments(self.spark, self.index_dir)

    @functools.cached_property
    def _docs(self) -> DataFrame:
        return load_docs(self.spark, self.index_dir)

    # -------------------------------------------------------------- scoring
    def top_k(self, query: str, k: int = 10, mode: str = "or") -> DataFrame:
        """Block-max WAND top-k on the range map stage of the top-k
        scorers (mode="and": rarest-first conjunctive intersection)."""
        meta = self.meta
        terms = terms_for_index(meta, query)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return _wand._topk_over_segments(
            self.spark, self.index_dir, meta, terms, k, mode=mode
        )

    def phrase(self, phrase: str, k: int = 10, method: str = "auto"):
        """Phrase top-k (delegates to operators.phrase.phrase_search —
        positional plane when the index has one)."""
        from uci_searchengine_spark.operators.phrase import phrase_search

        return phrase_search(self.spark, self.index_dir, phrase, k, method=method)

    def boolean(self, query: str, k: int = 10):
        """Boolean (+must/-not/"phrase") top-k — operators.boolean."""
        from uci_searchengine_spark.operators.boolean import boolean_search

        return boolean_search(self.spark, self.index_dir, query, k)

    def phrase_rows(
        self, phrase: str, k: int = 10, method: str = "auto",
        plan: str = "auto", slop: int = 0,
    ) -> list[dict]:
        """Phrase top-k as rows [(doc_id, score, n_occ)], plan-chosen
        like ``search()``: in-process when the pruned scan fits
        ``local_bytes_limit`` (same closure as the Spark plan —
        operators/local_search.py), else the distributed job. ``slop``
        relaxes adjacency to ordered proximity (functions/phrase.py)."""
        from uci_searchengine_spark.operators.local_search import (
            phrase_topk_local,
        )
        from uci_searchengine_spark.operators.phrase import (
            phrase_plan,
            phrase_search,
        )

        seq, terms, use_pos = phrase_plan(self.meta, phrase, method, slop)
        if not seq:
            return []
        excl = _wand.load_excl(self.index_dir, self.meta.bucket_size)
        # positional verify is index-only; doc-store verify tokenizes
        # candidate docs in-process
        if self._use_local(terms, excl, plan, docstore=not use_pos):
            self.last_plan = "local"
            return phrase_topk_local(
                self.index_dir, self.meta, phrase, k, method, excl=excl,
                slop=slop,
            )
        self.last_plan = "spark"
        df = phrase_search(
            self.spark, self.index_dir, phrase, k, method=method, slop=slop
        )
        return [r.asDict() for r in df.collect()]

    def boolean_rows(
        self, query: str, k: int = 10, plan: str = "auto",
        synonyms: "dict[str, list[str]] | None" = None,
    ) -> list[dict]:
        """Boolean (+must/-not/"phrase") top-k as rows
        [(doc_id, score)], plan-chosen like ``search()``. ``synonyms``
        = raw query-time map (functions/synonyms.py clause rules),
        applied identically on both plans."""
        from uci_searchengine_spark.operators.boolean import (
            boolean_plan,
            boolean_search,
            expand_wildcards,
        )
        from uci_searchengine_spark.operators.local_search import (
            boolean_topk_local,
        )

        inject = None
        if "*" in query:
            from uci_searchengine_spark.operators.bm25 import analyze_seq

            res = expand_wildcards(
                query,
                self._expand_prefix,
                lambda s: analyze_seq(self.meta, s),
            )
            if res is None:
                return []
            query, gs, ns, ors = res
            inject = (gs, ns, ors)
        bq, all_terms, use_pos = boolean_plan(
            self.meta, query, inject=inject, synonyms=synonyms
        )
        if not bq.positive_terms:
            return []
        excl = _wand.load_excl(self.index_dir, self.meta.bucket_size)
        # phrases verify from the doc store unless positional
        docstore = bool(bq.phrases) and not use_pos
        if self._use_local(all_terms, excl, plan, docstore=docstore):
            self.last_plan = "local"
            return boolean_topk_local(
                self.index_dir, self.meta, query, k, excl=excl,
                inject=inject, synonyms=synonyms,
            )
        self.last_plan = "spark"
        df = boolean_search(
            self.spark, self.index_dir, query, k, inject=inject,
            synonyms=synonyms,
        )
        return [r.asDict() for r in df.collect()]

    def _attach(self, rows: list[dict], display_terms: list[str]) -> list[dict]:
        """Doc-attach ≤k winner rows through the process's footer memo
        (wand.fetch_winner_docs — bounded, never a join); snippets under
        the shared display rule (bm25.snippet_text)."""
        docs = _wand.fetch_winner_docs(
            self.index_dir, self.meta.bucket_size,
            [r["doc_id"] for r in rows],
            [t.lower() for t in display_terms],
        )
        out = []
        for r in rows:
            url, title, snip = docs.get(int(r["doc_id"]), (None, None, None))
            d = {"url": url, "title": title, "snippet": snip,
                 "score": r["score"]}
            if "n_occ" in r:
                d["n_occ"] = r["n_occ"]
            out.append(d)
        return out

    def phrase_envelope(
        self, phrase: str, k: int = 10, method: str = "auto",
        plan: str = "auto", slop: int = 0,
    ) -> dict:
        """Doc-attached phrase results (url/title/snippet/score/n_occ),
        plan-chosen; snippets highlight the raw phrase tokens (display
        rule — phrase_results parity). ``slop`` > 0 = ordered
        proximity."""
        rows = self.phrase_rows(phrase, k, method, plan, slop)
        env = {
            "query": phrase,
            "mode": "phrase",
            "results": self._attach(rows, query_terms(phrase)),
        }
        if slop:
            env["slop"] = slop
        return env

    def search_after_envelope(
        self,
        query: str,
        after: "tuple[float, int] | None" = None,
        per_page: int = 10,
        mode: str = "or",
    ) -> dict:
        """Cursor deep-pagination envelope (ES search_after): the next
        ``per_page`` doc-attached results strictly after the
        ``(score, doc_id)`` cursor, plus ``next_cursor`` (the last
        row's sort key, verbatim — feed it back for the next page; null
        when the ranking is exhausted). Delegates to the relational
        cursor plan (bm25.search_after): under a cursor predicate the
        block-max θ-pruning is NOT admissible (eligible docs are
        exactly the low-scored ones θ would discard), so the pruned
        serving scorer is the wrong engine for deep pages — the
        flat-plane filter keeps page N the same bounded top-k as
        page 1."""
        from uci_searchengine_spark.operators.bm25 import search_after

        df = search_after(
            self.spark, self.index_dir, query, after, per_page, mode
        )
        # tombstones are already subtracted in-plan (score_all anti-joins
        # the tombstone parquet before the cursor filter)
        rows = [r.asDict() for r in df.collect()]
        nxt = (
            [rows[-1]["score"], rows[-1]["doc_id"]]
            if len(rows) == per_page
            else None
        )
        disp = query_terms(query)
        attached = self._attach(rows, disp)
        for a, r in zip(attached, rows):
            a["doc_id"] = int(r["doc_id"])  # cursor clients sort by it
        return {
            "query": query,
            "mode": mode,
            "search_after": list(after) if after else None,
            "results": attached,
            "next_cursor": nxt,
        }

    def collapsed_envelope(
        self, query: str, k: int = 10, per_group: int = 1,
        mode: str = "or",
    ) -> dict:
        """Field-collapsed (host-crowding) doc-attached results (ES
        collapse / Lucene grouping): at most ``per_group`` best docs per
        lowercased url host, global top-k. Delegates to
        operators/collapse.collapsed_topk — one scoring pass over the
        match set + one window keyed by group, never the corpus."""
        from uci_searchengine_spark.operators.collapse import collapsed_topk

        df = collapsed_topk(
            self.spark, self.index_dir, query, k, per_group, mode
        )
        rows = [r.asDict() for r in df.collect()]
        attached = self._attach(rows, query_terms(query))
        for a, r in zip(attached, rows):
            a["group"] = r["group"]
        return {
            "query": query,
            "mode": "collapse",
            "per_group": per_group,
            "results": attached,
        }

    def fields_envelope(
        self,
        query: str,
        k: int = 10,
        w_title: float = 2.0,
        w_text: float = 1.0,
        variant: str = "bm25f",
        tie_breaker: float = 0.0,
    ) -> dict:
        """Multi-field (title^w_title, text^w_text) doc-attached top-k —
        ES multi_match surface. Delegates to
        operators/multifield.score_fields (combination semantics pinned
        there: bm25f | most_fields | concat | dis_max); winners
        doc-attached via the bounded fetch. Exposes the weights so a UI
        can label the ranking; ``tie_breaker`` applies to dis_max only
        and is surfaced in the envelope for that variant."""
        from uci_searchengine_spark.operators.bm25 import query_terms
        from uci_searchengine_spark.operators.multifield import score_fields

        df = score_fields(
            self.spark, self.index_dir, query,
            w_title=w_title, w_text=w_text, variant=variant, k=k,
            tie_breaker=tie_breaker,
        )
        rows = [r.asDict() for r in df.collect()]
        env = {
            "query": query,
            "mode": "fields",
            "variant": variant,
            "weights": {"title": w_title, "text": w_text},
            "results": self._attach(rows, query_terms(query)),
        }
        if variant == "dis_max":
            env["tie_breaker"] = tie_breaker
        return env

    def boolean_envelope(
        self, query: str, k: int = 10, plan: str = "auto"
    ) -> dict:
        """Doc-attached boolean results; snippets highlight the raw
        POSITIVE tokens only — negated terms must not be promoted in the
        display (boolean_results rule)."""
        from uci_searchengine_spark.functions.queryparse import parse_query
        from uci_searchengine_spark.functions.tokenize import tokenize_py

        rows = self.boolean_rows(query, k, plan)
        raw_pos = parse_query(query, tokenize_py).positive_terms
        return {
            "query": query,
            "mode": "boolean",
            "results": self._attach(rows, raw_pos),
        }

    def similar(self, doc_id: int, k: int = 10, max_terms: int = 25) -> dict:
        """More-Like-This envelope (related-articles surface): the
        source doc's characteristic terms (operators/mlt.py selection)
        scored as a disjunction with the source excluded; winners
        doc-attached via the bounded co-located fetch. Exposes the
        selected terms so a UI can explain WHY a result is similar."""
        from uci_searchengine_spark.operators.mlt import (
            _source_text,
            mlt_topk_for_terms,
            select_terms,
        )
        from uci_searchengine_spark.operators.tombstones import is_deleted

        if is_deleted(self.index_dir, int(doc_id)):
            return {"doc_id": int(doc_id), "terms": [], "results": []}
        text = _source_text(self.index_dir, self.meta, int(doc_id))
        if text is None:
            return {"doc_id": int(doc_id), "terms": [], "results": []}
        # df lookup is job-free on the resident vocab frame when it fits
        lookup = (
            self.term_stats_for if self._vocab_fits_local() else None
        )
        terms = select_terms(
            self.spark, self.index_dir, self.meta, text, max_terms,
            df_lookup=lookup,
        )
        if not terms:
            return {"doc_id": int(doc_id), "terms": [], "results": []}
        rows = [
            r.asDict()
            for r in mlt_topk_for_terms(
                self.spark, self.index_dir, self.meta, terms, int(doc_id), k
            ).collect()
        ]
        return {
            "doc_id": int(doc_id),
            "terms": terms,
            "results": self._attach(rows, terms),
        }

    def explain(self, query: str, doc_id: int) -> dict:
        """Score explanation (Lucene Explanation analog): per-term
        breakdown of THIS doc's BM25 score for the query — df, idf, tf,
        doc_len, tf_part, contribution — plus the total, which equals
        the single-node oracle's score exactly (same float ops in
        analyzed-term order) and the ranked score within float-sum
        reassociation (~1e-12; the scorer accumulates upper-bound-first).
        One co-located doc-store read + the resident/pruned vocab for
        df — no scoring job."""
        import math as _math

        from uci_searchengine_spark import BM25_B, BM25_K1
        from uci_searchengine_spark.operators.bm25 import (
            analyze_seq,
            idf as _idf,
        )
        from uci_searchengine_spark.operators.mlt import _source_text

        terms = terms_for_index(self.meta, query)
        out = {
            "query": query,
            "doc_id": int(doc_id),
            "terms": [],
            "score": 0.0,
            "matched": False,
        }
        if not terms:
            return out
        text = _source_text(self.index_dir, self.meta, int(doc_id))
        if text is None:
            return out
        toks = analyze_seq(self.meta, text)
        doc_len = len(toks)
        tf_map: dict[str, int] = {}
        for t in toks:
            if t in terms:
                tf_map[t] = tf_map.get(t, 0) + 1
        dfs = {r["term"]: r["df"] for r in self.term_stats_for(terms)}
        total = 0.0
        for t in terms:
            tf = tf_map.get(t, 0)
            if tf == 0:
                continue
            df = int(dfs.get(t, 0))
            w = _idf(self.meta.n_docs, df)
            tf_part = (
                tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * doc_len / self.meta.avgdl))
            )
            contrib = w * tf_part
            total += contrib
            out["terms"].append(
                {
                    "term": t,
                    "tf": tf,
                    "df": df,
                    "doc_len": doc_len,
                    "idf": w,
                    "tf_part": tf_part,
                    "contribution": contrib,
                }
            )
        out["score"] = total
        out["matched"] = bool(out["terms"]) and not _math.isnan(total)
        return out

    def highlight(
        self,
        query: str,
        doc_id: int,
        n_frags: int = 3,
        frag_len: int = 120,
    ) -> dict:
        """Multi-fragment highlighting for ONE doc (ES highlight /
        unified-highlighter analog; pinned rule in
        functions/highlight.py). Display terms follow the envelope's
        display rule (raw query forms); one bounded co-located
        doc-store read, no scoring job."""
        from uci_searchengine_spark.functions.highlight import (
            highlight_fragments,
        )
        from uci_searchengine_spark.operators.mlt import _source_text

        out = {
            "query": query,
            "doc_id": int(doc_id),
            "found": False,
            "fragments": [],
        }
        text = _source_text(self.index_dir, self.meta, int(doc_id))
        if text is None:
            return out
        out["found"] = True
        out["fragments"] = highlight_fragments(
            text, query_terms(query), n_frags, frag_len
        )
        return out

    def count(self, query: str, mode: str = "or") -> dict:
        """Count-only surface (ES _count analog): the exact match-set
        cardinality under the FULL query surface — wildcards, fuzzy,
        regex, site: filters, tombstones — by running the envelope plan
        with a 1-row page (the count already folds into that single
        job/local pass; the one winner's doc fetch is noise). Cached
        like any envelope request."""
        env = self.search(query, page=1, per_page=1, mode=mode)
        return {"query": query, "mode": mode, "count": env["total_results"]}

    def term_vectors(
        self, doc_id: int, positions: bool = True
    ) -> dict:
        """Per-doc term vector (ES _termvectors analog): every term of
        THIS doc with tf, df (term_statistics), and optionally the
        token positions — one bounded co-located doc-store read + one
        vocab probe for the dfs; no scoring job. Terms sorted asc;
        doc_len = analyzed token count (the BM25 length)."""
        from uci_searchengine_spark.operators.bm25 import analyze_seq
        from uci_searchengine_spark.operators.mlt import _source_text

        out = {
            "doc_id": int(doc_id),
            "found": False,
            "doc_len": 0,
            "terms": [],
        }
        text = _source_text(self.index_dir, self.meta, int(doc_id))
        if text is None:
            return out
        toks = analyze_seq(self.meta, text)
        out["found"] = True
        out["doc_len"] = len(toks)
        tf: dict[str, int] = {}
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            tf[t] = tf.get(t, 0) + 1
            if positions:
                pos.setdefault(t, []).append(i)
        dfs = {
            r["term"]: r["df"] for r in self.term_stats_for(list(tf))
        }
        for t in sorted(tf):
            row = {"term": t, "tf": tf[t], "df": int(dfs.get(t, 0))}
            if positions:
                row["positions"] = pos[t]
            out["terms"].append(row)
        return out

    def term_stats_for(self, terms: list[str]) -> list[dict]:
        """(term, df) for an explicit term list — resident frame when it
        fits, pruned Spark vocab scan otherwise."""
        if self._vocab_fits_local():
            v = self._vocab_raw()
            pdf = v[v["term"].isin(terms)]
            return [
                {"term": t, "df": int(d)}
                for t, d in zip(pdf["term"], pdf["df"])
            ]
        from uci_searchengine_spark.operators.suggest import vocab

        rows = (
            vocab(self.spark, self.index_dir)
            .filter(F.col("term").isin(terms))
            .collect()
        )
        return [{"term": r["term"], "df": int(r["df"])} for r in rows]

    def term_stats(self, prefix: str = "", k: int = 20) -> list[dict]:
        """Terms-enum surface (Lucene TermsEnum / ES _terms_enum):
        top-k (term, df) under an optional prefix, df desc. Job-free on
        the resident vocab frame when the plane fits the local budget;
        one pruned Spark vocab scan otherwise."""
        if self._vocab_fits_local():
            v = self._vocab_raw()
            pdf = v[v["term"].str.startswith(prefix)] if prefix else v
            pdf = pdf.sort_values(
                ["df", "term"], ascending=[False, True]
            ).head(k)
            return [
                {"term": t, "df": int(d)}
                for t, d in zip(pdf["term"], pdf["df"])
            ]
        from uci_searchengine_spark.operators.suggest import vocab

        rel = vocab(self.spark, self.index_dir)
        if prefix:
            rel = rel.filter(F.col("term").startswith(prefix))
        rows = rel.orderBy(F.desc("df"), F.asc("term")).limit(k).collect()
        return [{"term": r["term"], "df": int(r["df"])} for r in rows]

    def suggest(self, word: str, k: int = 5, max_dist: int = 2):
        """Fuzzy "did you mean" over this index's vocabulary."""
        from uci_searchengine_spark.operators.suggest import suggest

        return suggest(self.spark, self.index_dir, word, k, max_dist)

    # ------------------------------------------------------------- envelope
    def _use_local(
        self, terms: list[str], excl, plan: str, docstore: bool = False
    ) -> bool:
        """Per-query local/distributed choice. A BucketedExcl exclusion
        set (tombstones past the driver cap: no driver array) forces the
        distributed plan; otherwise "auto" compares the
        pruned shard dirs' on-disk bytes against ``local_bytes_limit``.
        ``docstore``: the local path also works over the doc store
        in-process (doc-store phrase verify, filter frames), a cost that
        follows the doc store rather than the pruned segment bytes — so
        "auto" also needs the whole doc store within the budget."""
        if plan not in ("auto", "local", "spark"):
            raise ValueError(f"plan must be auto|local|spark, got {plan!r}")
        if plan == "spark":
            return False
        bucketed = isinstance(excl, _wand.BucketedExcl)
        if plan == "local":
            if bucketed:
                raise ValueError(
                    "plan='local' needs a driver-resident exclusion set; "
                    "this index's tombstones exceed the driver cap"
                )
            return True
        if bucketed or not self.local_bytes_limit:
            return False
        if docstore and self._docstore_bytes() > self.local_bytes_limit:
            return False
        from uci_searchengine_spark.operators.local_search import (
            pruned_shard_bytes,
        )

        shard_map = _wand._shards_for_terms(terms, self.meta.num_shards)
        shards = sorted(set(shard_map.values()))
        return (
            pruned_shard_bytes(self.index_dir, shards)
            <= self.local_bytes_limit
        )

    def _docstore_bytes(self) -> int:
        """On-disk bytes of the whole doc store (all generations) —
        cached; the policy input for DOC-STORE-VERIFY strategies, whose
        in-process cost scales with candidate docs, not with the pruned
        segment bytes the envelope check uses."""
        if getattr(self, "_docs_bytes", None) is None:
            from uci_searchengine_spark.operators.index_build import (
                generation_dirs,
            )

            total = 0
            for d in generation_dirs(self.index_dir):
                root = os.path.join(d, "docs")
                if not os.path.isdir(root):
                    continue
                for bd in os.listdir(root):
                    p = os.path.join(root, bd)
                    if not os.path.isdir(p):
                        continue
                    for fn in os.listdir(p):
                        if fn.endswith(".parquet"):
                            total += os.path.getsize(os.path.join(p, fn))
            self._docs_bytes = total
        return self._docs_bytes

    def _vocab_fits_local(self) -> bool:
        """Vocabulary plane (term+df compressed bytes, footer stats)
        under the local budget? Cached — the plane only changes with a
        new generation, which reloads the Searcher."""
        if self._vocab_bytes is None:
            from uci_searchengine_spark.operators.local_search import (
                vocab_col_bytes,
            )

            self._vocab_bytes = vocab_col_bytes(self.index_dir)
        return bool(
            self.local_bytes_limit
            and self._vocab_bytes <= self.local_bytes_limit
        )

    def _expand_prefix(self, prefix: str) -> list[str]:
        """Wildcard expansion for ``search()``: resident job-free path
        when the vocab plane fits the local budget, else one Spark
        vocab scan (both capped + ordered identically —
        operators/prefix.py). Uses the RAW (term, df) frame — the
        suggestion structure's trigram lists / DP matrix are not needed
        for a startswith scan and cost seconds to build on a large
        vocabulary."""
        from uci_searchengine_spark.operators.prefix import (
            expand_prefix,
            expand_prefix_local,
        )

        if self._vocab_fits_local():
            v = self._vocab_raw()
            return expand_prefix_local(
                v["term"].to_numpy(), v["df"].to_numpy(), prefix
            )
        return expand_prefix(self.spark, self.index_dir, prefix)

    def _expand_fuzzy(self, word: str, max_edits: int) -> list[str]:
        """Fuzzy expansion for ``search()``: the same local-vs-Spark
        policy as ``_expand_prefix`` — resident job-free banded-DP scan
        when the vocab fits the local budget, else one Spark vocab scan
        (both capped + ordered identically — operators/fuzzy.py)."""
        from uci_searchengine_spark.operators.fuzzy import (
            expand_fuzzy,
            expand_fuzzy_local,
        )

        if self._vocab_fits_local():
            v = self._vocab_raw()
            return expand_fuzzy_local(
                v["term"].to_numpy(), v["df"].to_numpy(), word, max_edits
            )
        return expand_fuzzy(self.spark, self.index_dir, word, max_edits)

    def _expand_regexp(self, pattern: str) -> list[str]:
        """Regex expansion for ``search()``: same local-vs-Spark policy
        as the other rewrites (operators/regexp.py)."""
        from uci_searchengine_spark.operators.regexp import (
            expand_regexp,
            expand_regexp_local,
        )

        if self._vocab_fits_local():
            v = self._vocab_raw()
            return expand_regexp_local(
                v["term"].to_numpy(), v["df"].to_numpy(), pattern
            )
        return expand_regexp(self.spark, self.index_dir, pattern)

    def _authority_frame(self):
        """Resident (doc_id, authority) frame of the whole doc store —
        the task-local site: filter's input (filtered.read_authority)."""
        if getattr(self, "_auth_pdf", None) is None:
            from uci_searchengine_spark.operators.filtered import read_authority

            self._auth_pdf = read_authority(self.index_dir)
        return self._auth_pdf

    def _dv_frame(self, field: str):
        """Resident (doc_id, value) frame of one doc-values plane — the
        task-local range filter's input. Memoized per field."""
        from uci_searchengine_spark.operators.filtered import read_doc_values

        cache = getattr(self, "_dv_pdfs", None)
        if cache is None:
            cache = self._dv_pdfs = {}
        if field not in cache:
            cache[field] = read_doc_values(self.index_dir, field)
        return cache[field]

    def _vocab_raw(self):
        """Resident (term, df) pandas frame — shared input of the
        wildcard expansion and the suggestion VocabIndex."""
        if getattr(self, "_vocab_raw_pdf", None) is None:
            from uci_searchengine_spark.operators.local_search import (
                vocab_local,
            )

            self._vocab_raw_pdf = vocab_local(self.index_dir)
        return self._vocab_raw_pdf

    def _vocab(self):
        if self._vocab_pdf is None:
            from uci_searchengine_spark.operators.local_search import (
                VocabIndex,
            )

            self._vocab_pdf = VocabIndex(self._vocab_raw())
        return self._vocab_pdf

    def _index_state_token(self):
        """Cheap token capturing everything that can change a cached
        envelope while THIS Searcher is alive: the tombstone files (a
        delete is the only in-place mutation; appends/merges reload the
        Searcher via the registry swap). The same tuple keys the
        driver's tombstone array (tombstones.load_tombstone_ids)."""
        from uci_searchengine_spark.operators.tombstones import state_token

        return state_token(self.index_dir)

    def _read_meta_state(self) -> tuple:
        st = os.stat(os.path.join(self.index_dir, "meta.json"))
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    def _refresh(self) -> None:
        """Reload the root meta, and drop everything derived from it,
        when an append or merge committed a new ``meta.json`` since this
        Searcher read it (one ``stat`` per search)."""
        state = self._read_meta_state()
        if state == self._meta_state:
            return
        self._meta_state = state
        self.meta = IndexMeta.load(self.index_dir)
        self._qcache.clear()
        self._docs_bytes = self._vocab_pdf = self._vocab_bytes = None
        for name in (
            "_segments", "_docs", "_vocab_raw_pdf", "_auth_pdf", "_dv_pdfs"
        ):
            self.__dict__.pop(name, None)

    def search(
        self,
        query: str,
        page: int = 1,
        per_page: int = 10,
        mode: str = "or",
        plan: str = "auto",
    ) -> dict:
        """Cached wrapper over ``_search_impl`` (Lucene/ES query-cache
        analog): identical (query, page, per_page, mode, plan) requests
        return the stored envelope with zero work while the index state
        token is unchanged; a tombstone write flushes the cache, and an
        append/merge swaps in a fresh Searcher via the registry. LRU,
        ``query_cache`` entries (0 disables). A new generation committed
        under this Searcher reloads its meta first (``_refresh``)."""
        self._refresh()
        if not self._qcache_max:
            return self._search_impl(query, page, per_page, mode, plan)
        tok = self._index_state_token()
        if tok != self._qcache_token:
            self._qcache.clear()
            self._qcache_token = tok
        import copy as _copy

        key = (query, page, per_page, mode, plan)
        hit = self._qcache.get(key)
        if hit is not None:
            self.cache_hits += 1
            self._qcache.move_to_end(key)
            env, cached_plan = hit
            # restore the plan that produced the cached envelope so
            # /api/health's last_plan reports this request, not the
            # last uncached one
            self.last_plan = cached_plan
            return _copy.deepcopy(env)  # callers may mutate their copy
        env = self._search_impl(query, page, per_page, mode, plan)
        self._qcache[key] = (_copy.deepcopy(env), self.last_plan)
        if len(self._qcache) > self._qcache_max:
            self._qcache.popitem(last=False)
        return env

    def _search_impl(
        self,
        query: str,
        page: int = 1,
        per_page: int = 10,
        mode: str = "or",
        plan: str = "auto",
    ) -> dict:
        """Result envelope (search.py:119-126 shape) on the resident index.

        Matching terms follow the index's analysis chain (stemmed iff the
        index is); snippets highlight the raw query forms (display rule).
        Hits and total_results come from one range-scoring closure
        (wand.make_envelope_fn): when the pruned scan fits one task
        (``local_bytes_limit``) it scores the whole pruned frame
        in-process with no job at all
        (local_search.local_topk_count_docs); otherwise one
        scatter-gather stage runs it once per bucket range, one Spark
        job with no shuffle (wand.topk_count_docs). Either way the
        driver merges the ranges and fetches the ≤k winners' doc-store
        url/title/snippet once (wand.gather_envelope).
        ``plan``: "auto" (bytes-based choice), "local", "spark".

        Wildcards: a ``stem*`` token expands against the vocabulary
        (operators/prefix.py — resident job-free expansion when the
        vocab plane fits the local budget, else one Spark vocab scan)
        and the expansions score as ordinary OR terms. OR mode only —
        a wildcard inside an AND query is an OR-group (boolean.py
        territory).

        ``site:host`` tokens (Google-style) become a filter context:
        eligibility restricted to docs whose url authority equals a
        given host (multiple site: tokens OR together), scores
        unchanged. ``field:[10 TO 200]`` / ``field:{10 TO 200}`` tokens
        (Lucene numeric range queries, ``*`` = open end) are filter
        context too: ``field`` names a doc-values plane of this index
        (an unknown field raises); docs missing from the plane don't
        match (ES rule); multiple ranges and site: filters AND
        together. A filtered query runs the same envelope with the
        allowed set as one more input (filtered.allowed_ids): a sorted
        driver array from resident frames on the local plan, evaluated
        by each range task over its own buckets on the distributed one;
        it takes the local plan only when the doc store also fits
        ``local_bytes_limit``."""
        from uci_searchengine_spark.operators.docvalues import dv_dir
        from uci_searchengine_spark.operators.filtered import (
            allowed_ids,
            parse_range_filters,
            parse_site_filters,
        )
        from uci_searchengine_spark.operators.fuzzy import parse_fuzzy
        from uci_searchengine_spark.operators.prefix import parse_wildcards
        from uci_searchengine_spark.operators.regexp import parse_regexps

        from uci_searchengine_spark.functions.queryparse import parse_boosts

        # ranges first: their syntax contains whitespace, so every
        # token-wise parser below must never see them. Validate the
        # plane names eagerly — an unknown field must raise even when
        # the query ends up with no scoring terms (loud contract).
        rest, ranges = parse_range_filters(query)
        for fld, *_bounds in ranges:
            root = dv_dir(self.index_dir, fld)
            if not os.path.isdir(root):
                raise ValueError(
                    f"unknown range field {fld!r}: no doc-values plane at {root}"
                )
        rest, hosts = parse_site_filters(rest)
        # Lucene term^N query-time boosts: strip the suffixes up front so
        # the de-boosted chunks flow through the normal rewrite pipeline
        # (and the display rule never sees a '^2'), resolve raw chunks to
        # analyzed terms once the index's analysis chain is in hand below
        rest, raw_boosts = parse_boosts(rest)
        literals, prefixes = parse_wildcards(rest)
        literals2, fuzzies = parse_fuzzy(" ".join(literals))
        literals3, patterns = parse_regexps(" ".join(literals2))
        if prefixes or fuzzies or patterns:
            if mode != "or":
                raise ValueError(
                    "wildcard/fuzzy/regex queries support mode='or' only"
                )
            literals_s = " ".join(literals3)
            terms = (
                terms_for_index(self.meta, literals_s) if literals3 else []
            )
            expanded: list[str] = []
            for p in prefixes:
                expanded.extend(self._expand_prefix(p))
            for w, e in fuzzies:
                expanded.extend(self._expand_fuzzy(w, e))
            for p in patterns:
                expanded.extend(self._expand_regexp(p))
            terms = list(dict.fromkeys(terms + expanded))
            # display rule: highlight literal raw forms AND the concrete
            # expansions (the match the user actually got)
            disp = list(
                dict.fromkeys(query_terms(literals_s) + expanded)
            )
        else:
            terms = terms_for_index(self.meta, rest)
            disp = query_terms(rest)
        boosts: "dict[str, float] | None" = None
        if raw_boosts:
            boosts = {}
            for chunk, b in raw_boosts.items():
                cl = chunk.lower()
                if cl.endswith("*") and "*" not in cl[:-1]:
                    # a boosted wildcard boosts every concrete expansion
                    # (Lucene: the rewrite distributes the clause boost)
                    for t in self._expand_prefix(cl[:-1]):
                        boosts[t] = max(boosts.get(t, 0.0), b)
                    continue
                if "*" in cl or "~" in cl or cl.startswith("/"):
                    raise ValueError(
                        "boosts apply to literal terms and stem* "
                        "wildcards only (not fuzzy/regex chunks)"
                    )
                for t in terms_for_index(self.meta, chunk):
                    boosts[t] = max(boosts.get(t, 0.0), b)
            boosts = boosts or None
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
        excl = _wand.load_excl(self.index_dir, self.meta.bucket_size)
        filtered = bool(hosts or ranges)
        if self._use_local(terms, excl, plan, docstore=filtered):
            from uci_searchengine_spark.operators.local_search import (
                local_topk_count_docs,
            )

            self.last_plan = "local"
            rows, total = local_topk_count_docs(
                self.index_dir, self.meta, disp, terms,
                k=page * per_page, mode=mode, excl=excl, boosts=boosts,
                incl=allowed_ids(
                    hosts, ranges, self._authority_frame, self._dv_frame
                ) if filtered else None,
            )
        else:
            self.last_plan = "spark"
            rows, total = _wand.topk_count_docs(
                self.spark, self.index_dir, self.meta, disp, terms,
                k=page * per_page, mode=mode, excl=excl, boosts=boosts,
                filters=(hosts, ranges) if filtered else None,
            )
        start = (page - 1) * per_page
        sel = rows[start : start + per_page]
        dym = None
        if total == 0:
            # zero hits → spell-correct from this index's vocabulary
            # (envelope parity with bm25.search / FIXTURES.md schema).
            # On the local plan the vocabulary (term+df plane, the
            # smallest plane of the index) is served from a resident
            # frame — the whole zero-hit envelope stays job-free.
            # Corrections read ``rest``: filter and boost syntax stripped
            # (a ``^2`` suffix is no term).
            if self.last_plan == "local" and self._vocab_fits_local():
                from uci_searchengine_spark.operators.local_search import (
                    suggest_query_local,
                )

                dym = suggest_query_local(
                    self.index_dir, self.meta, rest, self._vocab()
                )
            else:
                from uci_searchengine_spark.operators.suggest import (
                    suggest_query,
                )

                dym = suggest_query(self.spark, self.index_dir, rest)
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
                }
                for r in sel
            ],
        }
