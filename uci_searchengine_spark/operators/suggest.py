"""Fuzzy term suggestion ("did you mean") over the index vocabulary.

Candidate generation + ranking, all JVM expressions in ONE pass over the
vocabulary relation (term, df) derived from the segments:

1. length pruning — ``|len(t) - len(q)| <= max_dist`` (edit distance
   lower bound), pushed into the scan;
2. character trigram overlap — ``arrays_overlap(trigrams(t), lit(Q))``
   rejects almost everything cheaply before the DP;
3. exact ``levenshtein(t, q) <= max_dist`` (Spark built-in, codegen);
4. rank (distance asc, df desc, term asc) → top-k.

Scale shape: the vocabulary of even a web corpus is orders of magnitude
smaller than its postings (~10^7-10^8 terms); suggestion is one pruned
column scan with no shuffle before the final TakeOrdered. A dedicated
deletion-neighborhood table (SymSpell) would beat it at high QPS — noted
as the next step, not needed for correctness.

Reference: no spell correction exists in UCI-SearchEngine; breadth
extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.index_build import load_segments


def vocab(spark: SparkSession, index_dir: str) -> DataFrame:
    """(term, df) — df summed over segment rows, correct at any
    seg_split (sum of per-bucket dfs == total doc frequency)."""
    return (
        load_segments(spark, index_dir)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )


def _trigrams(c):
    return F.expr(
        f"transform(sequence(0, greatest(length({c}) - 3, 0)),"
        f" i -> substring({c}, i + 1, 3))"
    )


def suggest(
    spark: SparkSession,
    index_dir: str,
    word: str,
    k: int = 5,
    max_dist: int = 2,
) -> DataFrame:
    """Top-k (term, df, dist) corrections for ``word``."""
    w = word.lower()
    grams = sorted(
        {w[i : i + 3] for i in range(max(len(w) - 2, 1))}
    )
    v = vocab(spark, index_dir)
    out = v.filter(
        (F.length("term") >= len(w) - max_dist)
        & (F.length("term") <= len(w) + max_dist)
    )
    if len(w) >= 4:
        # trigram prefilter — a RECALL-TRADING heuristic (FIXTURES.md):
        # a shared trigram is only GUARANTEED for len(w) ≥ 3*max_dist+3
        # (9 for max_dist=2); for 4-8 char words, adversarial distance-2
        # edits (e.g. 'abcd'→'axcy') can share none and are dropped. In
        # practice typos cluster (transposition/doubling/adjacent-key)
        # and keep a trigram; words ≤3 chars skip the filter entirely
        # because misses dominate there.
        out = out.filter(
            F.arrays_overlap(
                _trigrams("term"), F.array(*[F.lit(g) for g in grams])
            )
        )
    out = out.withColumn(
        "dist", F.levenshtein(F.col("term"), F.lit(w))
    ).filter(F.col("dist") <= max_dist)
    return out.orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    ).limit(k)


def suggest_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    max_dist: int = 2,
) -> str | None:
    """Query-level "did you mean": replace each UNKNOWN analyzed term
    (df == 0 — its shard scan returns no rows) with its best vocabulary
    correction; known terms pass through. Returns the corrected query
    string, or None when every term is known or nothing is correctable.

    One job-free membership probe for the whole query (the footer-pruned
    term read of ``local_search.term_dfs``, on the driver) + one vocab
    scan job per unknown term — the rare path by construction (most
    queries have no typos)."""
    from uci_searchengine_spark.operators.bm25 import terms_for_index
    from uci_searchengine_spark.operators.index_build import IndexMeta
    from uci_searchengine_spark.operators.local_search import term_dfs

    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    if not terms:
        return None
    seen = set(term_dfs(index_dir, meta, terms))
    unknown = [t for t in terms if t not in seen]
    if not unknown:
        return None
    fixes: dict[str, str] = {}
    for t in unknown:
        top = suggest(spark, index_dir, t, k=1, max_dist=max_dist).collect()
        if top:
            fixes[t] = top[0]["term"]
    if not fixes:
        return None
    return " ".join(fixes.get(t, t) for t in terms)


def phrase_suggest_pairs(
    toks: DataFrame,
    w1: str,
    w2: str,
    k: int = 3,
    alpha: float = 0.1,
    max_dist: int = 1,
) -> DataFrame:
    """ES phrase-suggester analog for a two-word query: per-word
    candidates from the corpus vocabulary (Lucene-style generator:
    shared first char + length window pushed to the scan, then exact
    ``levenshtein <= max_dist``), whole-PHRASE ranking by an add-α
    bigram LM fit on the corpus — so "dta sprk" corrects toward a pair
    that actually CO-OCCURS, not just two individually-frequent words
    (the property the per-word ``suggest`` above can't give).

    ``toks`` is (id, t array<string>). Returns top-k rows
    ``(suggestion, score)`` with score = ln P(c1) + ln P(c2|c1) rounded
    to 3 decimals (the cross-engine ln-agreement convention the
    lm_perplexity gate established); order (score desc, suggestion asc)
    is computed on the ROUNDED score so ranking is engine-portable.

    Scale shape: unigram/bigram counts are the same two counted
    shuffles every LM stage here pays (shareable with lm_quality);
    candidate sets are a pruned scan of the vocabulary relation
    (orders of magnitude smaller than postings) and the candidate
    cross-join is |cand1|×|cand2| — bounded by the generator, never
    corpus-sized. One broadcast one-row stats join; no window."""
    w1, w2 = w1.strip(), w2.strip()
    if not w1 or not w2:
        raise ValueError(
            "phrase_suggest_pairs needs two non-empty query words"
        )
    uni = (
        toks.select(F.explode("t").alias("a"))
        .groupBy("a")
        .agg(F.count("*").alias("c1"))
    )
    stats = uni.agg(
        F.sum("c1").cast("double").alias("n1"),
        F.count("*").cast("double").alias("v"),
    )
    bi = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c2"))
    )

    def cands(w: str, out: str) -> DataFrame:
        return (
            uni.filter(
                (F.substring("a", 1, 1) == w[0])
                & (F.abs(F.length("a") - len(w)) <= max_dist)
                & (F.levenshtein(F.col("a"), F.lit(w)) <= max_dist)
            )
            .select(F.col("a").alias(out), F.col("c1").alias(f"c_{out}"))
        )

    c1s = cands(w1, "s1")
    c2s = cands(w2, "s2").drop("c_s2")
    pairs = (
        c1s.crossJoin(c2s)
        .join(
            bi,
            (F.col("s1") == F.col("a")) & (F.col("s2") == F.col("b")),
            "left",
        )
        .select(
            "s1", "s2", "c_s1", F.coalesce("c2", F.lit(0)).alias("c_bi")
        )
        .crossJoin(F.broadcast(stats))
    )
    a = float(alpha)
    score = F.round(
        F.log((F.col("c_s1") + a) / (F.col("n1") + a * F.col("v")))
        + F.log((F.col("c_bi") + a) / (F.col("c_s1") + a * F.col("v"))),
        3,
    )
    return (
        pairs.select(
            F.concat_ws(" ", "s1", "s2").alias("suggestion"),
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("suggestion"))
        .limit(k)
    )


def noisy_channel_correct(
    vocab_df: DataFrame,
    hist: DataFrame,
    big: DataFrame,
    cont: DataFrame,
    n_types: int,
    vocab_size: int,
    prev_word: str,
    typo: str,
    max_dist: int = 2,
    k: int = 5,
    lam: float = 1.0,
    digits: int = 6,
) -> DataFrame:
    """Noisy-channel spell correction (Kernighan/Church/Gale 1990,
    Norvig's formulation): argmax_c P(c | context) · P(typo | c) —
    the composition of this module's candidate generation with the
    Kneser-Ney source model (`lm_quality.train_kn_bigram` relations).
    The plain `suggest` ranks by (distance, df): "spakr" → whichever
    frequent term is one edit away; the channel+context score instead
    prefers the candidate the LANGUAGE MODEL expects after
    ``prev_word``.

    Pinned models: channel ln P(typo|c) = −lam·dist (the
    distance-exponential simplification used when no confusion matrix
    is available); source ln P(c|prev) = interpolated KN exactly as
    `kn_perplexity` scores it. score = ln P_KN − lam·dist, rank
    (score desc, term asc), top-k.

    Plan shape: one length-pruned vocabulary scan (|len−len(typo)| ≤
    max_dist pushed into the scan) → codegen levenshtein filter →
    three broadcast LM joins → TakeOrdered k. The vocabulary relation
    is corpus-vocab-sized, never posting-sized; SymSpell deletion
    neighborhoods remain the named high-QPS refinement (module
    docstring)."""
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    dd = F.lit(0.75)
    cand = (
        vocab_df.filter(
            F.abs(F.length("term") - F.lit(len(typo))) <= F.lit(max_dist)
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(typo)))
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    b = F.broadcast
    denom = F.lit(float(n_types + vocab_size + 1))
    pcont = (
        F.coalesce(F.col("n1c"), F.lit(0)).cast("double") + F.lit(1.0)
    ) / denom
    p = F.when(
        F.col("cv").isNotNull() & (F.col("cv") > 0),
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - dd,
            F.lit(0.0),
        )
        / F.col("cv")
        + dd * F.col("n1h") / F.col("cv") * pcont,
    ).otherwise(pcont)
    joined = (
        cand.withColumn("v", F.lit(prev_word))
        .withColumnRenamed("term", "w")
        .join(b(big), ["v", "w"], "left")
        .join(b(hist), "v", "left")
        .join(b(cont), "w", "left")
        .select(
            F.col("w").alias("term"),
            "dist",
            F.round(F.log(p), digits).alias("lp"),
        )
        .withColumn(
            "score",
            F.round(
                F.col("lp") - F.lit(float(lam)) * F.col("dist"), digits
            ),
        )
    )
    return joined.orderBy(F.desc("score"), F.asc("term")).limit(k)


def _delete_variants_py(w: str, max_dist: int) -> "set[str]":
    """All strings reachable from ``w`` by ≤ max_dist deletions —
    driver-side (used for the QUERY word only; the plane side is the
    in-row SQL expression below)."""
    out = {w}
    frontier = {w}
    for _ in range(max_dist):
        nxt = set()
        for s in frontier:
            for i in range(len(s)):
                nxt.add(s[:i] + s[i + 1 :])
        out |= nxt
        frontier = nxt
    return out


def _deletes_col(term, max_dist: int):
    """array<string> of every ≤``max_dist``-deletion variant of
    ``term`` (the term itself included) — pure in-row HOFs: distance-1
    variants from one position sweep, distance-2 from the position
    pairs, deduped with array_distinct."""
    t = F.col(term) if isinstance(term, str) else term
    n = F.length(t)
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    d1 = F.transform(
        idx,
        lambda i: F.concat(
            t.substr(F.lit(1), i), t.substr(i + F.lit(2), n)
        ),
    )
    out = F.concat(F.array(t), d1)
    if max_dist >= 2:
        d2 = F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.filter(idx, lambda j: j > i),
                    # delete positions i < j (0-based): keep [1..i],
                    # (i+2..j], (j+2..end] in 1-based substr terms
                    lambda j: F.concat(
                        t.substr(F.lit(1), i),
                        t.substr(i + F.lit(2), j - i - 1),
                        t.substr(j + F.lit(2), n),
                    ),
                ),
            )
        )
        out = F.concat(out, d2)
    if max_dist >= 3:
        raise ValueError("max_dist > 2 not supported by the plane")
    return F.array_distinct(out)


def symspell_plane(vocab_df: DataFrame, max_dist: int = 2) -> DataFrame:
    """(dkey, term, df) — the SymSpell deletion-neighborhood relation
    (Garbe): every ≤max_dist-deletion variant of every vocabulary
    term. THE high-QPS refinement the module docstring names: lookup
    stops scanning the vocabulary and becomes an equi-join keyed by
    the (tiny) delete set of the query. Size bound: a length-L term
    contributes ≤ 1 + L + L(L−1)/2 rows — quadratic in word length,
    linear in vocabulary. Persist sorted by dkey (the trigram-plane
    pattern) so probes prune row groups."""
    cols = ["term"] + (["df"] if "df" in vocab_df.columns else [])
    return (
        vocab_df.select(
            *cols, F.explode(_deletes_col("term", max_dist)).alias("dkey")
        )
        .select("dkey", *cols)
    )


def suggest_symspell(
    plane: DataFrame,
    word: str,
    k: int = 5,
    max_dist: int = 2,
) -> DataFrame:
    """Top-k (term, df, dist) corrections through the deletion plane —
    the same output contract as :func:`suggest` (rank dist asc, df
    desc, term asc) WITHOUT the vocabulary scan and WITHOUT the
    trigram recall trade: SymSpell's guarantee is exact — lev(a,b) ≤ d
    ⟹ the two ≤d-deletion sets intersect — so the candidate set has
    NO false negatives (pytest pins scan-path equality; the plain
    `suggest` path can drop adversarial 4-8 char dist-2 edits, and
    that long-standing heuristic gap closes here). Lookup = literal
    IN-list probe of the plane (pushed to the scan) → distinct terms →
    exact levenshtein verify → TakeOrdered k."""
    w = word.lower()
    probes = sorted(_delete_variants_py(w, max_dist))
    cand_cols = [c for c in plane.columns if c != "dkey"]
    cand = (
        plane.filter(F.col("dkey").isin(probes))
        .select(*cand_cols)
        .distinct()
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(w)))
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    order = [F.asc("dist")] + (
        [F.desc("df")] if "df" in cand.columns else []
    ) + [F.asc("term")]
    return cand.orderBy(*order).limit(k)
