"""Filter context: query syntax for filters and BM25 top-k restricted to
an ALLOWED set of documents (Lucene's filter clause / Elastic's
``bool.filter`` — the filter constrains eligibility, never the score).

``parse_site_filters`` / ``parse_range_filters`` split ``site:host`` and
``field:[lo TO hi]`` tokens from a query; ``serving.Searcher`` turns
them into an allowed set and runs its one envelope path with it.
``filtered_topk`` takes the allowed set as a DataFrame of global doc ids
— the output of any relational predicate (language, domain, date range,
a join against an allowlist...).

There is no filtered scorer here: an allowed set is one more input of
the shared scoring tails. The distributed plan keys the relation on the
bucket grid and cogroups it per scoring bucket
(``wand.apply_per_bucket``; tombstones past the driver cap fold in by
anti-join), the task-local plan passes a sorted driver array. Either
way the kernel masks at accumulation time — before θ ever tightens — so
block-max pruning stays admissible for the post-filter top-k (a
post-scoring filter would drop filtered-in docs that unfiltered docs had
pruned away).

Reference: no filtered search exists in UCI-SearchEngine; breadth
extension with Lucene semantics.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import (
    _topk_over_segments,
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


def in_range(v, lo, hi, lo_inclusive, hi_inclusive, m):
    """``m`` narrowed to the docs whose value ``v`` lies in one parsed
    range (``None`` = open end) — numpy arrays and Spark columns
    alike."""
    if lo is not None:
        m = m & ((v >= lo) if lo_inclusive else (v > lo))
    if hi is not None:
        m = m & ((v <= hi) if hi_inclusive else (v < hi))
    return m


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
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_over_segments(
        pruned_segments(spark, index_dir, meta, terms), meta, k, mode=mode,
        n_terms=len(terms), excl=load_excl(index_dir, spark, meta.bucket_size),
        incl=allowed,
    )
