"""Infix wildcard queries over a trigram term index: ``*ata*`` matches
every indexed term containing ``ata``, anywhere.

Lucene analog: ``WildcardQuery`` under the scoring-boolean rewrite.
Leading-star patterns are the one multi-term rewrite the sorted
dictionary plane cannot help with — there is no literal prefix to push
(prefix.py pushes ``StringStartsWith``, regexp.py pushes the pattern's
literal head), so a naive expansion is a full-dictionary regex scan on
every query. The published scale answer is the trigram posting index —
Cox 2012, "Regular Expression Matching with a Trigram Index" (the
Google Code Search design), the same shape as PostgreSQL's ``pg_trgm``
GIN index and Lucene's n-gram sidecar fields:

* index side: one derived plane ``(gram, term, df)`` — every distinct
  internal trigram of every dictionary term, SORTED by gram so a probe
  pushes ``In(gram, …)`` into the parquet reader and prunes row groups
  on gram min/max stats. The plane is O(avg_len × |vocab|) rows of two
  tiny columns — derived data, rebuilt by one small job, tagged with
  (gens, n_docs) exactly like the vocab plane so appends invalidate it.
* query side: the pattern's literal segments (pieces between ``*``)
  each require ALL of their trigrams to appear in a matching term — a
  necessary condition, so the AND of the gram posting lists is a
  candidate superset with **no false negatives**. Candidates =
  ``filter(gram IN req) → groupBy(term) → count == |req|`` (one
  aggregate over the pruned plane scan), then the exact ``LIKE``
  verifies only the candidates. A web-scale dictionary never meets the
  pattern regex; only |candidates| strings do.
* segments shorter than 3 chars contribute no trigram; a pattern with
  no extractable trigram at all (``*ab*``) falls back to the verified
  full-dictionary scan — still bounded by |vocab|, and the fallback is
  explicit rather than a silent slow path.

Expansion semantics match the sibling rewrites exactly (Lucene's
scoring-boolean rewrite): full-match, ordered (df desc, term asc),
capped IN-PLAN at ``max_expansions``; the expanded terms then score as
an ordinary disjunction through the block-max pruned scorer, each with
its own idf.

Reference: no wildcard support exists in UCI-SearchEngine (the query
tokenizer strips ``*`` — backend/app/api/tokenizer.py:5-9); breadth
extension with Lucene/pg_trgm semantics.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.prefix import vocab_relation
from uci_searchengine_spark.operators.suggest import vocab
from uci_searchengine_spark.operators.wand import _topk_over_segments

MAX_EXPANSIONS = 50
_TAG = "_uss_tag.json"
# an infix token: contains a star that is NOT only trailing (trailing-
# only is prefix.py's PrefixQuery). Alphabet = analyzer output chars.
_INFIX = re.compile(r"^[a-z0-9*]+$")


def is_infix_pattern(token: str) -> bool:
    """True for wildcard tokens this module owns: at least one ``*``
    somewhere other than a single trailing position (``dat*`` belongs
    to the prefix rewrite; ``*ata*``, ``da*a``, ``*oin`` are infix)."""
    t = token.lower()
    if "*" not in t or not _INFIX.match(t):
        return False
    return not (t.count("*") == 1 and t.endswith("*"))


def parse_infix(query: str) -> tuple[list[str], list[str]]:
    """Split a raw query into (literal tokens, infix patterns).
    Patterns are lowered but NOT stemmed — wildcards skip analysis
    (Lucene rule, same as the prefix/regexp rewrites)."""
    literals: list[str] = []
    patterns: list[str] = []
    for raw in query.split():
        if is_infix_pattern(raw):
            patterns.append(raw.lower())
        else:
            literals.append(raw)
    return literals, patterns


def pattern_segments(pattern: str) -> list[str]:
    """Literal pieces between stars, in order, empties dropped."""
    return [s for s in pattern.split("*") if s]


def required_trigrams(pattern: str) -> list[str]:
    """Every trigram of every literal segment (len ≥ 3), deduped and
    sorted. A term matching the pattern must contain each segment as a
    substring, hence every one of these trigrams — the AND of their
    posting lists is a no-false-negative candidate filter."""
    grams = {
        seg[i : i + 3]
        for seg in pattern_segments(pattern)
        if len(seg) >= 3
        for i in range(len(seg) - 2)
    }
    return sorted(grams)


def like_pattern(pattern: str) -> str:
    """SQL LIKE translation (full-match): ``*`` → ``%``. Identical
    semantics in Spark ``Column.like`` and DuckDB ``LIKE`` — both
    anchor at the ends, so ``da*a`` stays end-anchored."""
    return pattern.replace("*", "%")


def trigram_grams_col(term) -> "F.Column":
    """Distinct internal trigrams of a term column — pure JVM HOFs
    (sequence/transform/array_distinct), guarded so terms shorter than
    3 chars yield an empty array instead of a misdirected sequence."""
    t = F.col(term) if isinstance(term, str) else term
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(t) - F.lit(3)),
            lambda i: t.substr(i + F.lit(1), F.lit(3)),
        )
    )
    return F.when(F.length(t) >= 3, grams).otherwise(
        F.array().cast("array<string>")
    )


# ------------------------------------------------ trigram posting plane
def write_trigram_plane(spark: SparkSession, index_dir: str) -> str:
    """Materialize ``<index_dir>/trigramplane/`` — (gram, term, df)
    SORTED by gram so an ``In(gram, …)`` probe prunes parquet row
    groups on tight gram min/max stats. Tagged with (gens, n_docs);
    appends/merges invalidate it and readers fall back to the live
    derivation until it is rewritten. Derived data: rebuilding is one
    tiny job over the dictionary, postings never touched."""
    import json as _json

    meta = IndexMeta.load(index_dir)
    out = os.path.join(index_dir, "trigramplane")
    (
        vocab(spark, index_dir)
        .select(
            F.explode(trigram_grams_col("term")).alias("gram"),
            "term",
            "df",
        )
        .orderBy("gram", "term")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    tag = {"gens": int(getattr(meta, "gens", 1)), "n_docs": int(meta.n_docs)}
    tmp = os.path.join(out, _TAG + ".tmp")
    with open(tmp, "w") as f:
        _json.dump(tag, f)
    os.replace(tmp, os.path.join(out, _TAG))
    return out


def trigram_plane_fresh(index_dir: str, meta: IndexMeta) -> bool:
    import json as _json

    p = os.path.join(index_dir, "trigramplane", _TAG)
    if not os.path.exists(p):
        return False
    try:
        tag = _json.load(open(p))
    except Exception:  # noqa: BLE001 — unreadable tag = stale
        return False
    return tag.get("gens") == int(getattr(meta, "gens", 1)) and tag.get(
        "n_docs"
    ) == int(meta.n_docs)


def trigram_relation(
    spark: SparkSession, index_dir: str, meta: "IndexMeta | None" = None
) -> DataFrame:
    """(gram, term, df) for candidate probes: the gram-sorted plane when
    present AND fresh (gram IN (...) prunes row groups), else derived
    live from the vocabulary relation (one dictionary-sized job)."""
    meta = meta or IndexMeta.load(index_dir)
    if trigram_plane_fresh(index_dir, meta):
        return spark.read.parquet(os.path.join(index_dir, "trigramplane"))
    return vocab_relation(spark, index_dir, meta).select(
        F.explode(trigram_grams_col("term")).alias("gram"), "term", "df"
    )


# ------------------------------------------------------------- expansion
def expand_infix(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Concrete index terms the infix pattern FULLY matches, highest-df
    first (ties: term asc), capped IN-PLAN at ``max_expansions``.

    Trigram path (any segment ≥ 3 chars): AND the gram posting lists
    over the pruned plane scan, verify LIKE only on the candidates.
    Fallback (no extractable trigram): verified full-dictionary scan,
    bounded by |vocab| — explicit, not a silent degradation."""
    if not is_infix_pattern(pattern):
        raise ValueError(f"not an infix wildcard pattern: {pattern!r}")
    grams = required_trigrams(pattern)
    like = like_pattern(pattern)
    if grams:
        tri = trigram_relation(spark, index_dir)
        cand = (
            tri.filter(F.col("gram").isin(grams))
            .groupBy("term", "df")
            .agg(F.count("*").alias("ng"))
            .filter(F.col("ng") == len(grams))
            .select("term", "df")
        )
    else:
        cand = vocab_relation(spark, index_dir)
    rows = (
        cand.filter(F.col("term").like(like))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def wildcard_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    query: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Full analyzed term set for a query containing infix-wildcard
    tokens: literal tokens through the index's analysis chain, each
    pattern expanded against the trigram index; deduped keeping
    order."""
    literals, patterns = parse_infix(query)
    terms = terms_for_index(meta, " ".join(literals)) if literals else []
    for p in patterns:
        terms.extend(expand_infix(spark, index_dir, p, max_expansions))
    return list(dict.fromkeys(terms))


def wildcard_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """BM25 top-k for a query with infix-wildcard tokens: expand via
    the trigram index, then score the disjunction with the block-max
    pruned scorer (each expansion contributes with its own idf). OR
    semantics only, like the other multi-term rewrites."""
    meta = IndexMeta.load(index_dir)
    terms = wildcard_terms(spark, index_dir, meta, query, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_over_segments(spark, index_dir, meta, terms, k)
