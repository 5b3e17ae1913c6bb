"""Regex term queries: ``/dat[a-z]+/`` matches every indexed term the
pattern FULLY matches.

Lucene analog: ``RegexpQuery`` under the scoring-boolean rewrite — the
pattern is expanded against the term dictionary into a bounded set of
concrete terms (full-match semantics, Lucene's rule: the automaton must
consume the whole term), and the expansions then score as an ordinary
disjunction, each with its own idf. Expansion ordering matches the
wildcard rewrite exactly: (df desc, term asc), capped at
``max_expansions``.

Scale shape: identical to the prefix/fuzzy rewrites — ONE column-pruned
scan of the (term, df) vocabulary relation, the cap applied IN-PLAN; a
literal prefix extracted from the pattern (Lucene's own optimization)
is pushed down as ``StringStartsWith`` so the sorted dictionary plane
prunes row groups before the regex ever runs. The postings planes are
never touched by expansion.

Engine note: the pattern must be valid in Java regex (Spark ``rlike``),
RE2 (the DuckDB oracle), and Python ``re`` (the resident twin) — the
gates and tests stay inside that common subset, and the pinned
semantics is FULL match (the engine anchors ``^(?:pat)$`` for rlike).

Reference: no regex support exists in UCI-SearchEngine; breadth
extension with Lucene semantics.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.prefix import vocab_relation
from uci_searchengine_spark.operators.wand import _topk_over_segments

MAX_EXPANSIONS = 50
_SLASHED = re.compile(r"^/(.+)/$")
_LITERAL_HEAD = re.compile(r"^[a-z0-9]+")


def parse_regexps(query: str) -> tuple[list[str], list[str]]:
    """Split a raw query into (literal tokens, regex patterns).

    A whitespace token of the form ``/pat/`` (ES regexp-query syntax)
    is a pattern; everything else flows through the normal analyzer
    downstream. Patterns are lowered (the index is) but otherwise
    untouched — no stemming, no analysis."""
    literals: list[str] = []
    patterns: list[str] = []
    for raw in query.split():
        m = _SLASHED.match(raw)
        if m:
            patterns.append(m.group(1).lower())
        else:
            literals.append(raw)
    return literals, patterns


def literal_prefix(pattern: str) -> str:
    """Longest literal prefix of the pattern (Lucene's automaton
    common-prefix optimization, conservatively: stop before the first
    regex metacharacter; back off one char when the next operator could
    make the last literal optional, e.g. ``ab?``/``ab*``/``ab{0,``)."""
    m = _LITERAL_HEAD.match(pattern)
    if not m:
        return ""
    lit = m.group(0)
    rest = pattern[m.end() :]
    if rest[:1] in ("?", "*", "{"):
        lit = lit[:-1]
    return lit


def expand_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Concrete index terms the pattern FULLY matches, highest-df first
    (ties: term asc), capped IN-PLAN at ``max_expansions``. The literal
    prefix (if any) is pushed as StringStartsWith ahead of the anchored
    rlike so the sorted dictionary plane prunes row groups."""
    re.compile(pattern)  # surface a bad pattern here, not mid-job
    v = vocab_relation(spark, index_dir)
    pre = literal_prefix(pattern)
    if pre:
        v = v.filter(F.col("term").startswith(pre))
    rows = (
        v.filter(F.col("term").rlike(f"^(?:{pattern})$"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def expand_regexp_local(
    terms, dfs, pattern: str, max_expansions: int = MAX_EXPANSIONS
) -> list[str]:
    """In-process replica of ``expand_regexp`` over a resident
    vocabulary (numpy term/df arrays): same full-match rule, ordering,
    and cap; zero Spark jobs. Equality with the Spark path is
    pytest-pinned."""
    import numpy as np

    rx = re.compile(pattern)
    t = np.asarray(terms)
    mask = np.fromiter(
        (rx.fullmatch(s) is not None for s in t), bool, len(t)
    )
    if not mask.any():
        return []
    mt = t[mask]
    md = np.asarray(dfs)[mask].astype("int64")
    order = np.lexsort((mt, -md))  # df desc, term asc
    return [str(x) for x in mt[order][:max_expansions]]


def regexp_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    query: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Full analyzed term set for a query containing ``/pat/`` tokens:
    literal tokens through the index's analysis chain, each pattern
    expanded against the vocabulary; deduped keeping order."""
    literals, patterns = parse_regexps(query)
    terms = terms_for_index(meta, " ".join(literals)) if literals else []
    for p in patterns:
        terms.extend(expand_regexp(spark, index_dir, p, max_expansions))
    return list(dict.fromkeys(terms))


def regexp_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """BM25 top-k for a query with ``/pat/`` regex tokens: expand, then
    score the disjunction with the block-max pruned scorer (each
    expansion contributes with its own idf). OR semantics only, like
    the other multi-term rewrites."""
    meta = IndexMeta.load(index_dir)
    terms = regexp_terms(spark, index_dir, meta, query, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_over_segments(spark, index_dir, meta, terms, k)
