"""Filter-context search: BM25 top-k restricted to an ALLOWED set of
documents given as a Spark relation (Lucene's filter clause / Elastic's
``bool.filter`` — the filter constrains eligibility, never the score).

The allowed set arrives as a DataFrame of global doc ids — itself the
output of an arbitrary relational predicate (language, domain, date
range, a join against an allowlist...), so the filter composes with the
whole DataFrame API. Delivery to the scorers reuses the tombstone
machinery's bucket grid: the relation is keyed by ``doc_id div
bucket_size`` and COGROUPED with the segment rows per scoring bucket, so
each task receives only its own bucket's allowed ids — constant driver
memory at any filter size, no join against the postings, no shuffle of
the (huge) segment relation beyond the groupBy(bucket) it already does.

Correctness: the inclusion mask is applied at accumulation time inside
``_score_bucket`` / ``_score_bucket_and`` — before θ ever tightens — so
block-max pruning stays admissible for the post-filter top-k (same
argument as tombstone exclusion; a post-scoring filter would silently
drop filtered-in docs that unfiltered docs had pruned away).

Tombstones compose by folding into the allowed relation (anti-join) —
one mechanism per bucket, no 3-way cogroup.

Reference: no filtered search exists in UCI-SearchEngine; breadth
extension with Lucene semantics.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import (
    _TOPK_COUNT_SCHEMA,
    _TOPK_SCHEMA,
    _idf_map,
    _score_bucket,
    _score_bucket_and,
    load_excl,
    pruned_segments,
)

_SITE = re.compile(r"^site:([\w.\-:]+)$", re.IGNORECASE)


def parse_site_filters(query: str) -> tuple[str, list[str]]:
    """Split ``site:host`` tokens (Google-style query operator) from the
    rest of the query. Parsed BEFORE tokenization (the analyzer would
    split the dots). Hosts are lowercased; match semantics = exact url
    netloc (authority) equality — the crawler's own domain rule."""
    rest: list[str] = []
    hosts: list[str] = []
    for raw in query.split():
        m = _SITE.match(raw)
        if m:
            hosts.append(m.group(1).lower())
        else:
            rest.append(raw)
    return " ".join(rest), hosts


_RANGE = re.compile(
    r"(\w+):([\[{])\s*(\*|-?[\d.]+)\s+TO\s+(\*|-?[\d.]+)\s*([\]}])"
)


def parse_range_filters(
    query: str,
) -> tuple[str, list[tuple[str, float | None, float | None, bool, bool]]]:
    """Split Lucene numeric range filters — ``field:[10 TO 200]``
    inclusive, ``field:{10 TO 200}`` exclusive, ``*`` open end, mixed
    brackets allowed — from the rest of the query. Parsed BEFORE any
    whitespace tokenization (the range syntax itself contains spaces)
    and before ``site:`` parsing. Returns (rest, ranges) with ranges =
    [(field, lo, hi, lo_inclusive, hi_inclusive)]; multiple filters AND
    together (Lucene filter-context semantics). ``field`` names a
    doc-values plane of the index; a document missing from the plane
    does not match (ES range-on-missing-field rule). ``TO`` is
    case-sensitive uppercase, as in Lucene."""
    ranges: list[tuple[str, float | None, float | None, bool, bool]] = []

    def _sub(m: "re.Match[str]") -> str:
        lo = None if m.group(3) == "*" else float(m.group(3))
        hi = None if m.group(4) == "*" else float(m.group(4))
        ranges.append(
            (m.group(1), lo, hi, m.group(2) == "[", m.group(5) == "]")
        )
        return " "

    rest = _RANGE.sub(_sub, query)
    return " ".join(rest.split()), ranges


def _bucketed(allowed: DataFrame, bucket_size: int) -> DataFrame:
    return allowed.select(
        (F.col("doc_id").cast("long") / F.lit(bucket_size))
        .cast("long")
        .alias("bucket"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )


def _prep(spark, index_dir: str, query: str, allowed: DataFrame,
          terms: "list[str] | None" = None, excl="__load__"):
    """Shared prelude: analyze, resolve tombstones (driver array rides
    alongside the inclusion mask; a BucketedExcl relation anti-joins into
    the filter — one cogroup mechanism per bucket either way), pruned
    segment scan. Returns None when the query has no analyzable terms.
    ``terms`` overrides analysis (already-analyzed term lists — e.g.
    wildcard expansions, which must not round-trip the analyzer);
    ``excl`` passes an already-loaded exclusion set (serving loads it for
    the plan choice — don't read the tombstone files twice)."""
    meta = IndexMeta.load(index_dir)
    if terms is None:
        terms = terms_for_index(meta, query)
    if not terms:
        return None
    if isinstance(excl, str) and excl == "__load__":
        excl = load_excl(index_dir, spark, meta.bucket_size)
    excl_arr: "np.ndarray | None" = None
    if isinstance(excl, np.ndarray):
        excl_arr = excl
    elif excl is not None:
        allowed = allowed.join(excl.df.select("doc_id"), "doc_id", "left_anti")
    seg = pruned_segments(spark, index_dir, meta, terms)
    return meta, terms, excl_arr, allowed, seg


def filtered_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    allowed: DataFrame,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k (doc_id, score) among ``allowed`` docs only.

    ``allowed``: DataFrame with a ``doc_id`` column (global index doc
    ids). Scores are pure BM25 — identical to the unfiltered score of
    the same doc (filter context, not a boost)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    empty = spark.createDataFrame([], "doc_id long, score double")
    prep = _prep(spark, index_dir, query, allowed)
    if prep is None:
        return empty
    meta, terms, excl_arr, allowed, seg = prep
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size
    n_terms = len(terms)

    def fn(key, seg_pdf, incl_pdf):
        if not len(seg_pdf):
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        incl = np.unique(incl_pdf["doc_id"].to_numpy().astype(np.int64))
        idf_map = _idf_map(n_docs, seg_pdf)
        if mode == "and":
            return _score_bucket_and(
                seg_pdf, idf_map, avgdl, bucket_size, n_terms, k,
                excl=excl_arr, incl=incl,
            )
        return _score_bucket(
            seg_pdf, idf_map, avgdl, bucket_size, k, excl=excl_arr, incl=incl
        )

    per_bucket = (
        seg.groupBy("bucket")
        .cogroup(_bucketed(allowed, bucket_size).groupBy("bucket"))
        .applyInPandas(fn, schema=_TOPK_SCHEMA)
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def filtered_topk_count(
    spark: SparkSession,
    index_dir: str,
    query: str,
    allowed: DataFrame,
    k: int = 10,
    mode: str = "or",
    terms: "list[str] | None" = None,
    excl="__load__",
    boosts: "dict[str, float] | None" = None,
) -> "tuple[list[tuple[int, float]], int]":
    """Envelope primitive: filtered global top-k AND the exact
    post-filter match count from ONE Spark action (the kernel's
    ``count_matches`` mode, with the inclusion cogroup). The count is the
    OR-union (or intersection) size AMONG allowed docs — exactly what a
    ``site:`` results page reports as total_results. ``boosts`` maps
    analyzed terms to query-time weight multipliers (wand._idf_map)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    prep = _prep(spark, index_dir, query, allowed, terms=terms, excl=excl)
    if prep is None:
        return [], 0
    meta, terms, excl_arr, allowed, seg = prep
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size
    n_terms = len(terms)

    def fn(key, seg_pdf, incl_pdf):
        empty = pd.DataFrame(
            {
                "bucket": pd.Series([], dtype="int64"),
                "n_matched": pd.Series([], dtype="int64"),
                "top": pd.Series([], dtype="object"),
            }
        )
        if not len(seg_pdf):
            return empty
        incl = np.unique(incl_pdf["doc_id"].to_numpy().astype(np.int64))
        idf_map = _idf_map(n_docs, seg_pdf, boosts)
        if mode == "and":
            pdf, n = _score_bucket_and(
                seg_pdf, idf_map, avgdl, bucket_size, n_terms, k,
                excl=excl_arr, incl=incl, count_matches=True,
            )
        else:
            pdf, n = _score_bucket(
                seg_pdf, idf_map, avgdl, bucket_size, k,
                excl=excl_arr, incl=incl, count_matches=True,
            )
        if not n:
            return empty
        top = [
            {"neg_score": -float(s), "doc_id": int(d)}
            for d, s in zip(pdf["doc_id"], pdf["score"])
        ]
        return pd.DataFrame(
            {
                "bucket": pd.Series([int(seg_pdf["bucket"].iloc[0])], dtype="int64"),
                "n_matched": pd.Series([n], dtype="int64"),
                "top": pd.Series([top], dtype="object"),
            }
        )

    per_bucket = (
        seg.groupBy("bucket")
        .cogroup(_bucketed(allowed, bucket_size).groupBy("bucket"))
        .applyInPandas(fn, schema=_TOPK_COUNT_SCHEMA)
    )
    row = per_bucket.agg(
        F.coalesce(F.sum("n_matched"), F.lit(0)).alias("total"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("top"))), 1, k
        ).alias("top"),
    ).collect()[0]
    hits = [(int(r["doc_id"]), -float(r["neg_score"])) for r in row["top"]]
    return hits, int(row["total"])
