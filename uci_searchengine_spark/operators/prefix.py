"""Prefix (wildcard) queries: ``dat*`` matches every indexed term that
starts with ``dat``.

Lucene analog: ``PrefixQuery`` under the scoring-boolean rewrite — the
pattern is expanded against the term dictionary into a bounded set of
concrete terms (capped at ``max_expansions``, highest-df first, exactly
Lucene's default rewrite cap), and the expanded terms then score as an
ordinary disjunction, each with its own idf.

Scale shape: the expansion is ONE column-pruned scan of the vocabulary
relation ``(term, df)`` — the vocabulary of even a web corpus is orders
of magnitude smaller than its postings, and only two tiny columns are
read (the postings/positions planes are never touched). Hash term-
sharding means a prefix cannot partition-prune the way an exact term
probe does (SURVEY §2.2 S8) — so the range-sharded dictionary IS
implemented as an optional plane: ``write_vocab_plane`` materializes
the term-SORTED (term, df) dictionary, expansion scans push
``StringStartsWith`` into the parquet reader, and row groups prune on
tight term min/max stats (plan-audited). The plane is tagged with
(gens, n_docs); appends invalidate it and readers fall back to the live
vocab aggregate until it is rewritten. The expansion result is bounded
(``max_expansions`` rows) before it ever reaches the driver, and
scoring reuses the block-max machinery with the expanded term set —
same pruned scan, same per-bucket skipping.

Reference: no wildcard support exists in UCI-SearchEngine (the query
tokenizer strips ``*`` — backend/app/api/tokenizer.py:5-9); breadth
extension with Lucene semantics.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.suggest import vocab
from uci_searchengine_spark.operators.wand import _topk_over_segments

MAX_EXPANSIONS = 50
_WILDCARD = re.compile(r"^(\w+)\*$", re.UNICODE)


# ------------------------------------------------ sorted terms dictionary
def write_vocab_plane(spark: SparkSession, index_dir: str) -> str:
    """Materialize the TERM-SORTED dictionary plane
    ``<index_dir>/vocabplane/`` — (term, df) ordered by term, so a
    prefix scan prunes parquet ROW GROUPS via the pushed
    ``StringStartsWith`` filter against tight term min/max stats (the
    range-sharded-dictionary refinement: hash sharding serves exact
    probes, this plane serves prefix ranges). Tagged with the index's
    (gens, n_docs) — a later append/merge invalidates it and readers
    fall back to the live vocab relation until it is rewritten.
    Derived data: rewriting is one tiny job, postings never touched."""
    import json as _json

    meta = IndexMeta.load(index_dir)
    out = os.path.join(index_dir, "vocabplane")
    (
        vocab(spark, index_dir)
        .orderBy("term")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    tag = {"gens": int(getattr(meta, "gens", 1)), "n_docs": int(meta.n_docs)}
    tmp = os.path.join(out, "_uss_tag.json.tmp")
    with open(tmp, "w") as f:
        _json.dump(tag, f)
    os.replace(tmp, os.path.join(out, "_uss_tag.json"))
    return out


def _vocab_plane_fresh(index_dir: str, meta: IndexMeta) -> bool:
    import json as _json

    p = os.path.join(index_dir, "vocabplane", "_uss_tag.json")
    if not os.path.exists(p):
        return False
    try:
        tag = _json.load(open(p))
    except Exception:  # noqa: BLE001 — unreadable tag = stale
        return False
    return tag.get("gens") == int(getattr(meta, "gens", 1)) and tag.get(
        "n_docs"
    ) == int(meta.n_docs)


def vocab_relation(
    spark: SparkSession, index_dir: str, meta: "IndexMeta | None" = None
) -> DataFrame:
    """(term, df) for expansion scans: the sorted dictionary plane when
    present AND fresh (prefix filters prune row groups), else the live
    per-segment aggregate."""
    meta = meta or IndexMeta.load(index_dir)
    if _vocab_plane_fresh(index_dir, meta):
        return spark.read.parquet(os.path.join(index_dir, "vocabplane"))
    return vocab(spark, index_dir)


def parse_wildcards(query: str) -> tuple[list[str], list[str]]:
    """Split a raw query into (literal tokens, prefix patterns).

    A whitespace token of the form ``stem*`` (word chars then a single
    trailing star) is a prefix pattern; everything else flows through the
    normal analyzer downstream. Patterns are lowered but NOT stemmed —
    wildcards skip analysis (Lucene rule: a stemmed prefix would miss the
    surface forms the user is completing)."""
    literals: list[str] = []
    prefixes: list[str] = []
    for raw in query.split():
        m = _WILDCARD.match(raw.lower())
        if m:
            prefixes.append(m.group(1))
        else:
            literals.append(raw)
    return literals, prefixes


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Concrete index terms matching ``prefix*``, highest-df first
    (ties: term asc), capped at ``max_expansions`` — Lucene's
    scoring-boolean rewrite cap, keeping the disjunction bounded no
    matter how fertile the prefix. One (term, df) vocab scan; the cap is
    applied IN-PLAN (orderBy/limit → TakeOrderedAndProject) so at most
    ``max_expansions`` rows reach the driver."""
    rows = (
        vocab_relation(spark, index_dir)
        .filter(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def prefix_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    query: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Full analyzed term set for a query containing ``stem*`` patterns:
    literal tokens through the index's analysis chain, each pattern
    expanded against the vocabulary; deduped keeping order."""
    literals, prefixes = parse_wildcards(query)
    terms = terms_for_index(meta, " ".join(literals)) if literals else []
    for p in prefixes:
        terms.extend(expand_prefix(spark, index_dir, p, max_expansions))
    return list(dict.fromkeys(terms))


def expand_prefix_local(
    terms, dfs, prefix: str, max_expansions: int = MAX_EXPANSIONS
) -> list[str]:
    """In-process replica of ``expand_prefix`` over a resident vocabulary
    (numpy term/df arrays — serving.Searcher's VocabIndex planes): same
    (df desc, term asc) ordering and cap, zero Spark jobs. Equality with
    the Spark path is pytest-pinned."""
    import numpy as np
    import pandas as pd

    mask = pd.Series(terms).str.startswith(prefix).to_numpy()
    if not mask.any():
        return []
    t = np.asarray(terms)[mask]
    d = np.asarray(dfs)[mask].astype("int64")
    order = np.lexsort((t, -d))  # primary: df desc; secondary: term asc
    return [str(x) for x in t[order][:max_expansions]]


def prefix_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """BM25 top-k for a query with ``stem*`` wildcard tokens: expand,
    then score the disjunction with the block-max pruned scorer (each
    expanded term contributes with its own idf — rare completions rank
    exactly as if the user had typed them). OR semantics only: a
    wildcard inside an AND query is an OR-group per pattern, which is
    boolean.py territory, not a flat term list."""
    meta = IndexMeta.load(index_dir)
    terms = prefix_terms(spark, index_dir, meta, query, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_over_segments(spark, index_dir, meta, terms, k)
