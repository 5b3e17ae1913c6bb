"""Answer checks against the engine's independent numpy oracle.

Every expected value here is computed by ``oracle/oracle.py`` from the
generated pages (exhaustive dict-of-lists scoring, no compression, no
pruning) at check time; nothing is compared with a stored copy of the
engine's output.
"""

from __future__ import annotations

import math
import types

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def _terms(query: str) -> list[str]:
    from uci_searchengine_spark.functions.tokenize import tokenize_py

    return tokenize_py(query)


def oracle_snippet(text: str, query: str) -> str:
    """The oracle's snippet rule applied to one text."""
    from uci_searchengine_spark.oracle.oracle import OracleIndex

    return OracleIndex.snippet(
        types.SimpleNamespace(texts=[text]), 0, _terms(query)
    )


def oracle_ranking(oracle, query: str, mode: str) -> list[tuple[int, float]]:
    """Every matching (oracle doc id, score), best first."""
    if mode == "and":
        return oracle.top_k_and(query, k=oracle.n_docs)
    return sorted(oracle.score(query).items(), key=lambda kv: (-kv[1], kv[0]))


def compare_envelope(
    env: dict, oracle, query: str, mode: str, tie_order: bool = True
) -> tuple[list[str], int]:
    """Differences between an engine envelope (page 1) and the oracle's,
    and the number of positions where equal scores came in another order.

    Scores must match position by position to REL_TOL, and the engine's
    own scores must not rise down the page. The urls of each group of
    equal scores (to REL_TOL) must match as a set; where the page ends
    inside a group, the engine's urls must come from that group.

    With ``tie_order``, two neighbours whose returned scores are exactly
    equal must come in the oracle's doc-id order (the engine breaks ties
    by doc id, and a single-generation build numbers docs as the oracle
    does). A neighbour pair in another order than the oracle's is
    accepted only where the engine's own scores differ, within REL_TOL
    (its per-bucket sums can differ in the last bit, see the README);
    such positions are counted. Without ``tie_order`` (an index whose doc
    ids are not the oracle's, as after a merge) order inside a group is
    not checked."""
    errs: list[str] = []
    ranked = oracle_ranking(oracle, query, mode)
    per_page = int(env.get("per_page", 10))
    want = ranked[:per_page]
    got = env.get("results", [])
    if int(env.get("total_results", -1)) != len(ranked):
        errs.append(f"total_results {env.get('total_results')} != {len(ranked)}")
    if len(got) != len(want):
        errs.append(f"{len(got)} results != {len(want)}")
        return errs, 0
    for i, (r, (_, s)) in enumerate(zip(got, want)):
        if not _close(float(r["score"]), s):
            errs.append(f"#{i} score {r['score']!r} != {s!r}")
    swaps = sum(r["url"] != oracle.urls[d] for r, (d, _) in zip(got, want))
    i = 0
    while i < len(want):
        j = i
        while j < len(ranked) and _close(ranked[j][1], ranked[i][1]):
            j += 1
        group = {oracle.urls[d] for d, _ in ranked[i:j]}
        shown = [r["url"] for r in got[i:j]]
        if not set(shown) <= group or len(set(shown)) != len(shown):
            errs.append(f"#{i}..{j - 1} urls {shown} not the tie group")
        elif j <= len(want) and set(shown) != group:
            errs.append(f"#{i}..{j - 1} tie group differs")
        i = j
    terms = _terms(query)
    url_to_doc = {u: k for k, u in enumerate(oracle.urls)}
    for i, (a, b) in enumerate(zip(got, got[1:])):
        sa, sb = float(a["score"]), float(b["score"])
        if sa < sb:
            errs.append(f"#{i} score {sa!r} below #{i + 1}'s {sb!r}")
        elif (
            tie_order and sa == sb
            and url_to_doc.get(a["url"], -1) > url_to_doc.get(b["url"], -1)
        ):
            errs.append(f"#{i}/#{i + 1} equal scores out of doc-id order")
    for i, r in enumerate(got):
        d = url_to_doc.get(r["url"])
        if d is None:
            errs.append(f"#{i} url {r['url']} unknown to the oracle")
            continue
        if r["snippet"] != oracle.snippet(d, terms):
            errs.append(f"#{i} snippet differs for {r['url']}")
        if r["title"] != oracle.titles[d]:
            errs.append(f"#{i} title differs for {r['url']}")
    return errs, (swaps if not errs else 0)


def selftest() -> None:
    """The checker must reject a perturbed score, a dropped hit, a swapped
    ranking and exactly equal scores out of doc-id order, and accept the
    oracle's own envelope and a tie swapped where the scores differ in
    the last bit; raises RuntimeError otherwise. Runs on a 61-page corpus
    (60 generated pages plus a copy of the best match under a url that
    sorts first, so ranks 0 and 1 tie exactly) in well under a second,
    at the start of every benchmark run."""
    import copy

    import pandas as pd

    from uci_searchengine_spark.oracle.oracle import OracleIndex
    from uci_searchengine_spark.sources.synth import synth_pages_local

    query = "stop0 stop1"
    pages = synth_pages_local(60, 11)
    best = OracleIndex(pages).search(query)["results"][0]["url"]
    twin = pages[pages["url"] == best].assign(url="http://a.example/twin")
    oracle = OracleIndex(pd.concat([pages, twin], ignore_index=True))
    good = oracle.search(query)
    res = good["results"]
    if res[0]["score"] != res[1]["score"] or res[1]["score"] == res[2]["score"]:
        raise RuntimeError("self-test corpus lacks its exact tie at ranks 0 and 1")

    def variant(edit):
        env = copy.deepcopy(good)
        edit(env["results"])
        return env

    def swap(r, i):
        r[i], r[i + 1] = r[i + 1], r[i]

    def swap_last_bit(r):
        swap(r, 0)
        r[0]["score"] = math.nextafter(r[0]["score"], math.inf)

    def perturb(r):
        r[3]["score"] *= 1 + 1e-6

    tie_swapped = variant(lambda r: swap(r, 0))
    reject = {
        "perturbed score": variant(perturb),
        "dropped hit": variant(lambda r: r.pop(4)),
        "swapped ranking": variant(lambda r: swap(r, 2)),
        "equal scores out of doc-id order": tie_swapped,
    }
    for name, env in reject.items():
        if not compare_envelope(env, oracle, query, "or")[0]:
            raise RuntimeError(f"checker accepts a {name}")
    accept = {
        "the oracle's own envelope": (good, True, 0),
        "a tie swapped with last-bit scores": (variant(swap_last_bit), True, 2),
        "a tie swapped on a merged index": (tie_swapped, False, 2),
    }
    for name, (env, tie_order, n_swaps) in accept.items():
        errs, n = compare_envelope(env, oracle, query, "or", tie_order)
        if errs or n != n_swaps:
            raise RuntimeError(f"checker rejects {name}: {errs} ({n} swaps)")


if __name__ == "__main__":
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    selftest()
    print("oracle checker self-test: ok")
