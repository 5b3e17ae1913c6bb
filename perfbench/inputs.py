"""Seeded inputs: the page corpus, the query pool and the ingest deltas.

Pages come from the engine's own generator (``sources/synth.py``): the
serving index is built from ``synth_pages(spark, n, seed)`` and the
oracle reads ``synth_pages_local(n, seed)``, which yields the identical
rows without Spark. Queries are drawn from the generator's vocabulary
by Zipf-rank band, so every seed asks the same mix of head, mid and rare
terms in the same shapes; only the words change.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

# corpus and traffic make-up: a stated model, not values taken from a
# query log or crawl trace (README, "Where these values come from")
SERVE_PAGES = 1000
INGEST_BASE_PAGES = 1000
POOL_SIZE = 2048  # distinct queries; the Searcher's LRU holds 256
POOL_ZIPF_S = 0.8  # popularity exponent over pool ranks (serve_local)
ROUNDS = 2  # ingest_serve append/delete/reload rounds before the merge
DELTA_NEW = 150  # new pages per round
DELTA_UPSERTS = 50  # existing urls re-sent with changed text per round
DELTA_DELETES = 25  # live docs tombstoned per round
# serve_local's closed loop: one connection. The engine serves one
# search at a time, so more connections only queue, and on a shared
# host their hand-offs made the timings follow the host (README, Load)
SERVE_CLIENTS = 1

# (mode, bands): S = the 10 head "stop" terms (~85% of pages),
# M = vocabulary ranks 10..499, R = ranks 500..2999
TEMPLATES = [
    ("or", "SM"),
    ("or", "MMR"),
    ("and", "SM"),
    ("or", "M"),
    ("or", "RR"),
    ("and", "SSM"),
    ("or", "SSMR"),
    ("and", "SMS"),
]


def _bands():
    from uci_searchengine_spark.sources.synth import STOP_TERMS, VOCAB

    return {
        "S": list(STOP_TERMS),
        "M": [str(w) for w in VOCAB[10:500]],
        "R": [str(w) for w in VOCAB[500:3000]],
    }


def query_pool(seed: int, size: int = POOL_SIZE) -> list[tuple[str, str]]:
    """``size`` distinct (query, mode) pairs; entry i has shape
    ``TEMPLATES[i % len(TEMPLATES)]``, so any run of len(TEMPLATES)
    consecutive entries holds each shape once."""
    rng = np.random.default_rng([seed, 1])
    bands = _bands()
    seen: set[tuple[str, str]] = set()
    pool: list[tuple[str, str]] = []
    while len(pool) < size:
        mode, shape = TEMPLATES[len(pool) % len(TEMPLATES)]
        words: list[str] = []
        for b in shape:
            choices = [w for w in bands[b] if w not in words]
            words.append(choices[int(rng.integers(len(choices)))])
        q = (" ".join(words), mode)
        if q not in seen:
            seen.add(q)
            pool.append(q)
    return pool


def zipf_sequence(pool_size: int, length: int) -> np.ndarray:
    """Pool indexes drawn by Zipf popularity (rank 0 most popular).

    The draw is the same for every seed: each run sends the same pattern
    of shapes and repeats (so the same cache-hit positions), and the seed
    changes the words and the corpus. Seeded draws made the hit share,
    and with it the closed loop's throughput, vary from run to run."""
    rng = np.random.default_rng([0, 2])
    p = 1.0 / np.arange(1, pool_size + 1) ** POOL_ZIPF_S
    return rng.choice(pool_size, size=length, p=p / p.sum())


def base_pages_local(n: int, seed: int) -> pd.DataFrame:
    from uci_searchengine_spark.sources.synth import synth_pages_local

    return synth_pages_local(n, seed)


def _marked(row, marker: str, url: str | None = None, ts=None) -> tuple:
    """A page row with ``marker`` added as its own paragraph; text is
    re-extracted from the new html by the engine's pinned extractor."""
    from uci_searchengine_spark.functions.extract import extract_one

    url = url or row.url
    html = bytes(row.html).replace(
        b"</body>", f"<p>{marker}</p></body>".encode(), 1
    )
    _, text, _ = extract_one(html, url)
    return (url, ts if ts is not None else row.warc_ts, html, text, row.lang)


def delta_pages(seed: int, rnd: int, live_urls: list[str]) -> pd.DataFrame:
    """Round ``rnd``'s append batch: DELTA_NEW unseen pages carrying the
    term ``nwmark<rnd>`` and DELTA_UPSERTS live urls re-sent with another
    page's body plus the term ``upmark<rnd>`` and a later timestamp."""
    from uci_searchengine_spark.sources.synth import gen_rows

    rng = np.random.default_rng([seed, 4, rnd])
    first_new = INGEST_BASE_PAGES + rnd * (DELTA_NEW + DELTA_UPSERTS)
    fresh = gen_rows(np.arange(first_new, first_new + DELTA_NEW), seed)
    bodies = gen_rows(
        np.arange(first_new + DELTA_NEW, first_new + DELTA_NEW + DELTA_UPSERTS),
        seed,
    )
    targets = [
        live_urls[i]
        for i in rng.choice(len(live_urls), DELTA_UPSERTS, replace=False)
    ]
    later = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=rnd
    )
    rows = [_marked(r, f"nwmark{rnd}") for r in fresh.itertuples()]
    rows += [
        _marked(r, f"upmark{rnd}", url=u, ts=later)
        for r, u in zip(bodies.itertuples(), targets)
    ]
    out = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    # the generator reuses a url now and then (pre-dedup duplicates);
    # keep the latest row per url, as the engine's dedup does
    out = out.sort_values("warc_ts", kind="mergesort").drop_duplicates(
        "url", keep="last"
    )
    return out.reset_index(drop=True)
