"""Batch query evaluation: score MANY queries against the index in ONE
Spark plan.

Offline evaluation shape: relevance sweeps, A/B reranking studies, and
training-data mining (hard-negative retrieval) all run 10^3-10^6 queries
against the same index. Looping the single-query path launches one job
per query — at cluster scale the scheduler round-trips dwarf the actual
scoring. Here the whole batch becomes one plan:

1. analyze every query once on the driver (bounded: the query table is
   tiny by definition — it's human-written queries);
2. ONE map stage over the bucket grid's ranges (``wand.run_ranges``)
   whose tasks read the rows of the UNION of all query terms (each
   shard dir is touched once per range no matter how many queries hit
   it);
3. per scoring bucket, the pandas fn scores EVERY query against the
   bucket's rows — per-query block-max pruning over the shared
   in-memory frame (the read is paid once for the whole batch).
   ``decode="shared"`` additionally dedupes the per-term varint
   decodes: one decode per row per bucket, exhaustive scoring in the
   same float order (bit-equal results) — measured 2×
   warm / 5.8× cold faster on a term-overlapping 32-query sweep
   (BENCH/BASELINE.md); the per-query default keeps block skipping,
   which wins on disjoint single-rare-term batches;
4. one global per-query top-k window over ≤ n_queries·n_buckets·k rows.

Scaling: cost grows with the union term set's postings, not with the
query count — a thousand queries over a shared vocabulary cost barely
more than the distinct-term sweep. For 10^6+ query batches the driver
analysis loop itself should distribute (tokenize the query table with
the same Arrow UDF as documents); noted, not needed at evaluation sizes.

Reference: no batch path exists (one HTTP request per query,
backend/app/api/routes.py:378-387); breadth extension.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.codec import unpack_postings
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import (
    _bm25,
    _idf_map,
    _mask,
    _score_bucket,
    _score_bucket_and,
    _select,
    _term_rows,
    run_ranges,
)

# decode="auto" switches to shared when the batch's df-weighted term
# reuse crosses this: at multiplicity R the per-query path decodes each
# posting ~R times, the shared path once (paid for with exhaustive
# scoring instead of block skipping). Measured on the bench shapes:
# shared won 2x warm / 5.8x cold at R~10 (32 overlapping queries) and
# lost on disjoint batches (R~1); 3.0 splits those regimes with margin.
DECODE_AUTO_THRESHOLD = 3.0


def decode_multiplicity(
    q_terms: "dict[str, list[str]]", df: "dict[str, int]"
) -> float:
    """df-weighted average number of queries each posting is decoded
    for: Σ_q Σ_{t∈q} df(t) ÷ Σ_{t∈union} df(t). 1.0 = fully disjoint
    batch; large = heavy term overlap (the shared-decode regime).
    Terms absent from ``df`` (not in this bucket / index) contribute 0."""
    union = {t for ts in q_terms.values() for t in ts if t in df}
    denom = float(sum(df[t] for t in union))
    if denom <= 0:
        return 1.0
    num = float(
        sum(df.get(t, 0) for ts in q_terms.values() for t in ts)
    )
    return num / denom


_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _score_shared(
    decoded: "list[tuple[float, np.ndarray, np.ndarray, np.ndarray]]",
    avgdl: float,
    base: int,
    bucket_size: int,
    k: int,
    excl: "np.ndarray | None",
) -> pd.DataFrame:
    """Exhaustive OR scoring from PRE-DECODED postings (the shared-decode
    batch path): rows (w, d, tf, dl) in the OR kernel's accumulation
    order (``wand._term_rows``), so every returned score is bit-equal
    to the pruned path's."""
    acc = np.zeros(bucket_size, dtype=np.float64)
    for w, d, tf, dl in decoded:
        d, tf, dl = _mask(d, tf, dl, excl, None)
        np.add.at(acc, d - base, _bm25(w, tf, dl, avgdl))
    nz = np.flatnonzero(acc > 0)
    return _select(nz, acc[nz], base, k)


def batch_topk(
    spark: SparkSession,
    index_dir: str,
    queries: "dict[str, str] | list[tuple[str, str]]",
    k: int = 10,
    mode: str = "or",
    decode: str = "per-query",
) -> DataFrame:
    """(query_id, doc_id, score): BM25 top-k per query, every query's
    ranking identical to the single-query scorer's (pytest-pinned).

    ``queries``: {query_id: query text} (or (id, text) pairs).

    ``decode``: "auto" (recommended — per scoring bucket, pick "shared"
    when the batch's measured df-weighted term overlap
    (``decode_multiplicity`` over the bucket's own df_global column)
    crosses ``DECODE_AUTO_THRESHOLD``, else "per-query"; zero extra
    I/O, and both strategies are bit-equal so the choice is pure
    performance), "per-query" (default — each query runs the block-max
    pruned scorer; terms shared by queries decode once per query) or
    "shared" (OR mode only: every pruned row decodes ONCE per bucket and
    all queries score exhaustively from the shared arrays — wins when
    the batch's queries overlap heavily on terms, loses the per-query
    block skipping; equality is pytest-pinned, the trade is measured in
    BENCH/BASELINE.md). "auto" under mode="and" always resolves to
    "per-query" (shared is OR-only)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if decode not in ("per-query", "shared", "auto"):
        raise ValueError(
            f"decode must be per-query|shared|auto, got {decode!r}"
        )
    if decode == "shared" and mode != "or":
        raise ValueError("decode='shared' supports mode='or' only")
    pairs = list(queries.items()) if isinstance(queries, dict) else list(queries)
    meta = IndexMeta.load(index_dir)
    q_terms = {
        str(qid): terms_for_index(meta, text) for qid, text in pairs
    }
    q_terms = {qid: ts for qid, ts in q_terms.items() if ts}
    empty = spark.createDataFrame([], _BATCH_SCHEMA)
    if not q_terms:
        return empty
    union_terms = list(dict.fromkeys(t for ts in q_terms.values() for t in ts))
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size

    def make_fn(excl_local):
        def fn(key, seg_pdf):
            out = []
            if len(seg_pdf):
                terms_here = set(seg_pdf["term"])
                idf_all = _idf_map(n_docs, seg_pdf)
                shared = decode == "shared" or (
                    decode == "auto"
                    and mode == "or"
                    and decode_multiplicity(
                        q_terms,
                        {t: int(d) for t, d in zip(seg_pdf["term"], seg_pdf["df_global"])},
                    )
                    >= DECODE_AUTO_THRESHOLD
                )
                base = int(seg_pdf["bucket"].iloc[0]) * bucket_size
                if shared:
                    # one decode per row, in the kernel's accumulation
                    # order — any query's subset keeps that order
                    decoded = [
                        (r.term, w, *unpack_postings(bytes(r.postings)))
                        for _ub, w, r in _term_rows(seg_pdf, idf_all, avgdl)
                    ]
                for qid, ts in q_terms.items():
                    mine = [t for t in ts if t in terms_here]
                    if not mine or (mode == "and" and len(mine) < len(ts)):
                        continue  # no term / some AND term absent here
                    if shared:
                        pdf = _score_shared(
                            [x[1:] for x in decoded if x[0] in mine],
                            avgdl, base, bucket_size, k, excl_local,
                        )
                    elif mode == "and":
                        pdf = _score_bucket_and(
                            seg_pdf[seg_pdf["term"].isin(mine)], idf_all,
                            avgdl, bucket_size, len(ts), k, excl=excl_local,
                        )
                    else:
                        pdf = _score_bucket(
                            seg_pdf[seg_pdf["term"].isin(mine)], idf_all,
                            avgdl, bucket_size, k, excl=excl_local,
                        )
                    if len(pdf):
                        pdf.insert(0, "query_id", qid)
                        out.append(pdf)
            if not out:
                return pd.DataFrame(
                    {
                        "query_id": pd.Series([], dtype="object"),
                        "doc_id": pd.Series([], dtype="int64"),
                        "score": pd.Series([], dtype="float64"),
                    }
                )
            return pd.concat(out, ignore_index=True)

        return fn

    per_bucket = run_ranges(
        spark, index_dir, meta, union_terms, make_fn, _BATCH_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_bucket.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )
