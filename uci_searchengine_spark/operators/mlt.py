"""More-Like-This: find documents similar to a given document.

Lucene analog: ``MoreLikeThis`` — select the source doc's most
characteristic terms by tf·idf, run them as a BM25 disjunction, exclude
the source. The classic related-articles / recommend-next surface.

Dataflow:

1. source text: ONE co-located doc-store read (footer-pruned row groups
   of the doc's own bucket — ``wand.fetch_bucket_docs``'s underlying
   layout; never a scan, never a join);
2. term selection: per-term tf from the analyzer, df for those terms
   from the vocabulary relation pruned to the doc's term set (a doc's
   distinct terms are bounded by its length — the collect is tiny);
   rank by ``tf · idf`` desc (ties: term asc), keep ``max_terms``
   (Lucene's maxQueryTerms=25 default);
3. scoring: the selected disjunction through the block-max pruned
   scorer at k+1, the source doc filtered out of those (the source
   always matches its own terms, so it costs one extra row).

Scale: steps 1-2 are driver-bounded (one doc); step 3 is the standard
pruned query path. MLT for EVERY doc at once (related-links
precomputation) is the batch shape: tf·idf selection is one groupBy over
the postings relation and the scoring fans out via batch_eval — noted,
not needed for the serving surface.

Reference: no MLT exists in UCI-SearchEngine; breadth extension with
Lucene semantics (maxQueryTerms=25, min_tf/min_df floors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import analyze_seq
from uci_searchengine_spark.operators.bm25 import idf as idf_fn
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.suggest import vocab
from uci_searchengine_spark.operators.wand import _bucket_topk

MAX_TERMS = 25


def _source_text(index_dir: str, meta: IndexMeta, doc_id: int) -> "str | None":
    from uci_searchengine_spark.operators.index_build import (
        footer,
        generation_dirs,
        parquet_files,
    )
    import os

    docs_dirs = [os.path.join(d, "docs") for d in generation_dirs(index_dir)]
    bucket = doc_id // meta.bucket_size
    # full text via the same footer-pruned row-group read the winner
    # fetch uses (fetch_bucket_docs returns snippets, not full text)

    for d in docs_dirs:
        for fp in parquet_files(os.path.join(d, f"bucket={bucket}")):
            ft = footer(fp)
            need = ft.row_groups("doc_id", lambda lo, hi: lo <= doc_id <= hi)
            if not need:
                continue
            tbl = ft.read(need, ["doc_id", "text"])
            for did, text in zip(tbl["doc_id"], tbl["text"]):
                if did.as_py() == doc_id:
                    return text.as_py()
    return None


def select_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    text: str,
    max_terms: int = MAX_TERMS,
    min_tf: int = 1,
    min_df: int = 1,
    df_lookup=None,
) -> list[str]:
    """The doc's ``max_terms`` most characteristic terms by tf·idf
    (Lucene MLT selection; idf = the engine's BM25 idf over THIS index's
    df). Deterministic ties: (score desc, term asc). ``df_lookup(terms)
    -> [{"term","df"}]`` overrides the Spark vocab scan (the resident
    Searcher passes its job-free frame lookup)."""
    from collections import Counter

    tf = Counter(analyze_seq(meta, text))
    cand = sorted(t for t, c in tf.items() if c >= min_tf)
    if not cand:
        return []
    if df_lookup is not None:
        rows = df_lookup(cand)
    else:
        rows = (
            vocab(spark, index_dir)
            .filter(F.col("term").isin(cand))
            .collect()
        )
    n = meta.n_docs
    scored = [
        (tf[r["term"]] * idf_fn(n, int(r["df"])), r["term"])
        for r in rows
        if int(r["df"]) >= min_df
    ]
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:max_terms]]


def mlt_topk_for_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    terms: list[str],
    exclude_id: int,
    k: int,
) -> DataFrame:
    """Scoring tail shared by ``more_like_this`` and the serving
    surface: the selected disjunction with the source doc excluded —
    every bucket's k+1 best with the source filtered out ((score desc,
    doc_id asc) is a total order, so dropping one row of a bucket's k+1
    leaves the top k of its rest), then the global top k."""
    out = _bucket_topk(spark, index_dir, meta, terms, k + 1)
    return (
        out.filter(F.col("doc_id") != int(exclude_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    doc_id: int,
    k: int = 10,
    max_terms: int = MAX_TERMS,
    min_tf: int = 1,
    min_df: int = 1,
) -> DataFrame:
    """Top-k (doc_id, score) most similar to ``doc_id`` (source always
    excluded). Empty result if the doc doesn't exist (or is deleted)."""
    meta = IndexMeta.load(index_dir)
    empty = spark.createDataFrame([], "doc_id long, score double")
    from uci_searchengine_spark.operators.tombstones import is_deleted

    if is_deleted(index_dir, int(doc_id)):
        return empty  # deleted docs stay in the store until compaction
    text = _source_text(index_dir, meta, int(doc_id))
    if text is None:
        return empty
    terms = select_terms(
        spark, index_dir, meta, text, max_terms, min_tf, min_df
    )
    if not terms:
        return empty
    return mlt_topk_for_terms(spark, index_dir, meta, terms, int(doc_id), k)
