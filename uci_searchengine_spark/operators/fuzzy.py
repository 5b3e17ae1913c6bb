"""Fuzzy term queries: ``spark~1`` matches every indexed term within
edit distance 1 of ``spark``.

Lucene analog: ``FuzzyQuery`` under the scoring-boolean rewrite — the
word is expanded against the term dictionary into a bounded set of
concrete terms (edit distance ≤ ``max_edits``, capped at
``max_expansions``), and the expansions then score as an ordinary
disjunction, each with its own idf. Expansion ordering is pinned and
deterministic: (distance asc, df desc, term asc) — closest surface
forms first, then Lucene's highest-df rewrite preference. One
documented divergence: Lucene's TopTermsBlendedFreqScoringRewrite
additionally down-boosts far expansions by ``1 - d/len``; here every
expansion scores with its own idf un-boosted (the same rule the
wildcard rewrite uses — operators/prefix.py), which keeps the scorer
shared and the SQL oracle exact.

Scale shape: identical to the prefix rewrite — ONE column-pruned scan
of the (term, df) vocabulary relation with a cheap length-window
pre-filter (``abs(len(t) - len(w)) <= max_edits``) ahead of the
JVM ``levenshtein(t, w, threshold)`` (early-exit banded DP), an
optional ``prefix_length`` pushdown (``StringStartsWith`` reaches the
sorted dictionary plane's row-group stats), and an IN-PLAN
``max_expansions`` cap — at most 50 rows reach the driver no matter the
vocabulary size. The postings planes are never touched by expansion;
scoring reuses the block-max machinery with the expanded term set.

Syntax (ES/Lucene): ``word~`` (AUTO fuzziness), ``word~0|1|2``
(explicit; 2 is Lucene's hard maximum). AUTO is the ES rule: 0 edits
for length ≤ 2, 1 for 3–5, 2 above.

Reference: no fuzzy support exists in UCI-SearchEngine (the query
tokenizer strips ``~`` — backend/app/api/tokenizer.py:5-9); breadth
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
MAX_EDITS = 2  # Lucene's LevenshteinAutomata hard limit
_FUZZY = re.compile(r"^(\w+)~([0-2]?)$", re.UNICODE)


def auto_fuzziness(word: str) -> int:
    """ES ``fuzziness: AUTO``: 0 edits for terms of length ≤ 2, 1 for
    3–5, 2 beyond."""
    n = len(word)
    if n <= 2:
        return 0
    if n <= 5:
        return 1
    return 2


def parse_fuzzy(query: str) -> tuple[list[str], list[tuple[str, int]]]:
    """Split a raw query into (literal tokens, [(word, max_edits)]).

    A whitespace token ``word~`` / ``word~N`` is a fuzzy pattern;
    everything else flows through the normal analyzer downstream.
    Patterns are lowered but NOT stemmed (same rule as wildcards: a
    stemmed pattern would measure distance against the wrong surface
    form)."""
    literals: list[str] = []
    fuzzies: list[tuple[str, int]] = []
    for raw in query.split():
        m = _FUZZY.match(raw.lower())
        if m:
            w = m.group(1)
            e = int(m.group(2)) if m.group(2) else auto_fuzziness(w)
            fuzzies.append((w, min(e, MAX_EDITS)))
        else:
            literals.append(raw)
    return literals, fuzzies


def expand_fuzzy(
    spark: SparkSession,
    index_dir: str,
    word: str,
    max_edits: int,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Concrete index terms within ``max_edits`` of ``word``, ordered
    (distance asc, df desc, term asc), capped at ``max_expansions`` —
    applied IN-PLAN (TakeOrderedAndProject) so the driver sees at most
    the cap. ``prefix_length`` > 0 is Lucene's exact-prefix requirement
    (cheaper expansion, pushes StringStartsWith into the dictionary
    scan)."""
    if max_edits == 0:
        return [word]
    v = vocab_relation(spark, index_dir)
    if prefix_length > 0:
        v = v.filter(F.col("term").startswith(word[:prefix_length]))
    lw = len(word)
    dist = F.levenshtein(F.col("term"), F.lit(word), max_edits)
    rows = (
        v.filter(
            (F.length("term") >= lw - max_edits)
            & (F.length("term") <= lw + max_edits)
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def expand_fuzzy_local(
    terms,
    dfs,
    word: str,
    max_edits: int,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """In-process replica of ``expand_fuzzy`` over a resident
    vocabulary (numpy term/df arrays — serving.Searcher's planes): the
    same length window, banded-DP distance, ordering, and cap; zero
    Spark jobs. Equality with the Spark path is pytest-pinned."""
    import numpy as np
    import pandas as pd

    if max_edits == 0:
        return [word]
    t = pd.Series(terms, dtype="object")
    mask = (t.str.len() - len(word)).abs() <= max_edits
    if prefix_length > 0:
        mask &= t.str.startswith(word[:prefix_length])
    if not mask.to_numpy().any():
        return []
    from uci_searchengine_spark.operators.local_search import _levenshtein

    cand = t[mask]
    d = cand.map(lambda s: _levenshtein(s, word)).to_numpy()
    keep = d <= max_edits
    ct = cand.to_numpy()[keep]
    cd = np.asarray(dfs)[mask.to_numpy()][keep].astype("int64")
    dd = d[keep]
    order = np.lexsort((ct, -cd, dd))  # dist asc, df desc, term asc
    return [str(x) for x in ct[order][:max_expansions]]


def fuzzy_terms(
    spark: SparkSession,
    index_dir: str,
    meta: IndexMeta,
    query: str,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Full analyzed term set for a query containing ``word~N``
    patterns: literal tokens through the index's analysis chain, each
    pattern expanded against the vocabulary; deduped keeping order."""
    literals, fuzzies = parse_fuzzy(query)
    terms = terms_for_index(meta, " ".join(literals)) if literals else []
    for w, e in fuzzies:
        terms.extend(
            expand_fuzzy(spark, index_dir, w, e, prefix_length, max_expansions)
        )
    return list(dict.fromkeys(terms))


def fuzzy_search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """BM25 top-k for a query with ``word~N`` fuzzy tokens: expand,
    then score the disjunction with the block-max pruned scorer (each
    expansion contributes with its own idf). OR semantics only, like
    ``prefix_search`` — a fuzzy token inside an AND/NOT query belongs
    to boolean.py's group machinery."""
    meta = IndexMeta.load(index_dir)
    terms = fuzzy_terms(
        spark, index_dir, meta, query, prefix_length, max_expansions
    )
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_over_segments(spark, index_dir, meta, terms, k)
