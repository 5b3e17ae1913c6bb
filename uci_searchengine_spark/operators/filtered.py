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
the shared scoring tails. The Searcher's filters pass ``allowed_ids``,
one numpy predicate over (doc_id, authority) and doc-value frames: the
task-local plan evaluates it over resident whole-index frames into a
sorted driver array, each range task of the distributed envelope over
its own buckets of the doc store and doc-value planes
(``wand.topk_count_docs``). ``filtered_topk`` keys its relation by the
range id of the same scatter and groups it with the range ids in one
shuffle of the allowed ids alone (``wand.run_ranges``; each range task
still reads its own tombstone ids past the driver cap). Either way the
kernel masks at accumulation time — before θ ever tightens — so block-max
pruning stays admissible for the post-filter top-k (a post-scoring
filter would drop filtered-in docs that unfiltered docs had pruned
away).

Reference: no filtered search exists in UCI-SearchEngine; breadth
extension with Lucene semantics.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    generation_dirs,
    parquet_files,
)
from uci_searchengine_spark.operators.wand import _topk_over_segments

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


def _read(files: list[str], cols: list[str]) -> pd.DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not files:
        return pd.DataFrame({c: [] for c in cols})
    return pa.concat_tables(
        [pq.read_table(f, columns=cols) for f in files]
    ).to_pandas()


def read_authority(
    index_dir: str, buckets: "tuple[int, int] | None" = None
) -> pd.DataFrame:
    """(doc_id, authority) of every generation's doc store — or of its
    buckets ``[b0, b1)`` — off its two cheapest columns: the ``site:``
    filter's input. Authority = everything between ``scheme://`` and the
    next ``/``, ``?`` or ``#``, lowercased (port kept — the crawler's own
    domain rule, and Spark's parse_url AUTHORITY)."""
    files = [
        f for d in generation_dirs(index_dir)
        for f in parquet_files(os.path.join(d, "docs"), buckets)
    ]
    pdf = _read(files, ["doc_id", "url"])
    pdf["authority"] = (
        pdf["url"].astype(object).str.extract(r"^[a-zA-Z][\w+.-]*://([^/?#]+)")[0]
        .str.lower()
    )
    return pdf[["doc_id", "authority"]]


def read_doc_values(
    index_dir: str, field: str, buckets: "tuple[int, int] | None" = None
) -> pd.DataFrame:
    """(doc_id, value) of one doc-values plane — or of its buckets
    ``[b0, b1)``: a range filter's input."""
    from uci_searchengine_spark.operators.docvalues import dv_dir

    files = parquet_files(dv_dir(index_dir, field), buckets)
    return _read(files, ["doc_id", "value"])


def allowed_ids(
    hosts: list[str], ranges: list[tuple], authority, values
) -> np.ndarray:
    """Sorted ids of the docs that pass every ``site:`` / range filter
    (hosts OR together, ranges AND; a doc missing from a range's plane
    does not match — ES rule). ``authority()`` gives the (doc_id,
    authority) frame and ``values(field)`` a plane's (doc_id, value)
    frame: the Searcher's resident whole-index frames on the task-local
    plan, one range's buckets in a distributed envelope task. Hosts come
    lowercased from ``parse_site_filters``."""
    sets = []
    if hosts:
        auth = authority()
        hit = auth["authority"].isin(hosts).to_numpy()
        sets.append(auth["doc_id"].to_numpy()[hit])
    for fld, *bounds in ranges:
        dv = values(fld)
        v = dv["value"].to_numpy()
        m = in_range(v, *bounds, np.ones(len(v), dtype=bool))
        sets.append(dv["doc_id"].to_numpy()[m])
    allowed = np.unique(sets[0]).astype(np.int64)
    for ids in sets[1:]:
        allowed = np.intersect1d(allowed, ids.astype(np.int64))
    return allowed


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
        spark, index_dir, meta, terms, k, mode=mode, incl=allowed
    )
