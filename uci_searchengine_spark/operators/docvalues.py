"""Doc-values plane + static-rank blended scoring.

Lucene analog: per-document numeric doc-values (PageRank, quality score,
freshness) stored COLUMN-wise beside the index and blended into the
ranking at query time — ``final = bm25 + weight * value`` — without
touching the postings planes.

Layout: ``<index_dir>/docvalues/<name>/bucket=N/*.parquet`` with rows
``(doc_id, value)`` — the SAME doc-range bucket grid as the postings and
the doc store, so each scoring task reads its own bucket's values
co-located (a footer-pruned columnar read inside the task; never a join,
never a shuffle). Values for docs missing from the relation default
to 0.0.

Scoring runs the OR kernel ``wand._score_bucket`` with the values as a
per-doc transform: blending adds ``add = weight * values``, decay
multiplies by ``mul = decay_curve(values)``. The values are read in-task
into a dense bucket-local vector (needed for the per-hit values anyway,
so a build-time sidecar would save no IO). Pruning stays admissible and
bounds docs per 128-doc window (the Lucene impact-sorting analog): each
term's block_max metadata and the transform are folded onto the same
window grid, so high-bonus docs and the remaining terms' heavy blocks —
usually in different windows — do not add up into one loose bound, and
a term bounds to ZERO in windows where it has no postings. θ and the
candidate set are maintained over the transformed scores.

Hit semantics: doc-values are a RANKING signal, not a matching signal —
only docs matching ≥1 query term (OR) / all terms (AND) are hits, and
the bonus applies to hits only.

Reference: no static ranking exists in UCI-SearchEngine; breadth
extension (north-star family: web-scale ranking needs a query-independent
signal lane).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uci_searchengine_spark.operators.bm25 import terms_for_index
from uci_searchengine_spark.operators.index_build import IndexMeta
from uci_searchengine_spark.operators.wand import (
    _idf_map,
    _score_bucket,
    _score_bucket_and,
    _topk_over_segments,
    run_ranges,
)


def dv_dir(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, "docvalues", name)


def attach_doc_values(
    spark: SparkSession, index_dir: str, values: DataFrame, name: str
) -> str:
    """Write a doc-values plane: ``values`` has (doc_id, value) — any
    relational computation (PageRank output, quality score...). One
    map-side write partitioned on the index's own bucket grid; doc ids
    outside [0, n_docs) are rejected. Overwrites a same-named plane
    (doc-values are derived data — rewriting them is cheap and safe; the
    postings planes are never touched)."""
    meta = IndexMeta.load(index_dir)
    out = dv_dir(index_dir, name)
    (
        values.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("value").cast("double").alias("value"),
        )
        .filter((F.col("doc_id") >= 0) & (F.col("doc_id") < meta.n_docs))
        .withColumn(
            "bucket",
            (F.col("doc_id") / F.lit(meta.bucket_size)).cast("long"),
        )
        .repartition("bucket")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    return out


def _load_bucket_values(
    index_dir: str, name: str, bucket: int, bucket_size: int
) -> "np.ndarray | None":
    """Dense bucket-local value vector (size bucket_size, 0.0 default)
    from the bucket's own hive dir — a task-local columnar read."""
    import pyarrow.parquet as pq

    p = os.path.join(dv_dir(index_dir, name), f"bucket={bucket}")
    if not os.path.isdir(p):
        return None
    base = bucket * bucket_size
    vec = np.zeros(bucket_size, dtype=np.float64)
    for fn in sorted(os.listdir(p)):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(p, fn), columns=["doc_id", "value"])
        ids = t["doc_id"].to_numpy() - base
        vec[ids] = t["value"].to_numpy(zero_copy_only=False)
    return vec


def blended_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dv_name: str,
    k: int = 10,
    weight: float = 1.0,
) -> DataFrame:
    """Top-k under ``bm25 + weight * doc_value`` (OR matching). The
    values plane is read task-locally per bucket; weight scales inside
    the task so one stored plane serves any blend weight."""
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    bucket_size, wgt = meta.bucket_size, float(weight)

    def transform(bucket):
        vec = _load_bucket_values(index_dir, dv_name, bucket, bucket_size)
        return None, (None if vec is None or wgt == 0.0 else wgt * vec)

    return _topk_over_segments(
        spark, index_dir, meta, terms, k, transform=transform
    )


def _decay_multiplier(
    vec: np.ndarray,
    kind: str,
    origin: float,
    scale: float,
    offset: float,
    decay: float,
) -> np.ndarray:
    """ES function_score decay curves over a value vector, in (0, 1]:
    dist = max(|v − origin| − offset, 0), and the curve is pinned so
    that dist == scale multiplies by exactly ``decay``:

    * gauss:  exp(dist² · ln(decay) / scale²)
    * exp:    exp(dist · ln(decay) / scale)
    * linear: max(1 − dist·(1−decay)/scale, 0)
    """
    import math as _math

    if not 0.0 < decay < 1.0:
        raise ValueError(f"decay must be in (0,1), got {decay}")
    if scale <= 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    dist = np.maximum(np.abs(vec - origin) - offset, 0.0)
    ln_d = _math.log(decay)
    if kind == "gauss":
        return np.exp(dist * dist * ln_d / (scale * scale))
    if kind == "exp":
        return np.exp(dist * ln_d / scale)
    if kind == "linear":
        return np.maximum(1.0 - dist * (1.0 - decay) / scale, 0.0)
    raise ValueError(f"kind must be gauss|exp|linear, got {kind!r}")


def decay_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dv_name: str,
    kind: str = "gauss",
    origin: float = 0.0,
    scale: float = 1.0,
    offset: float = 0.0,
    decay: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES function_score decay ranking: top-k under
    ``bm25 · decay_curve(doc_value)`` (OR matching) — the freshness /
    geo-distance / recency ranking shape. The raw value plane is read
    task-locally per bucket and the multiplier derived in-task, so one
    stored plane serves any (kind, origin, scale, offset, decay); docs
    missing from the plane carry the dense default value 0.0 (they decay
    by their distance from origin — pinned)."""
    # validate the curve parameters before any job
    _decay_multiplier(np.zeros(1), kind, origin, scale, offset, decay)
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    bucket_size = meta.bucket_size
    params = (kind, float(origin), float(scale), float(offset), float(decay))

    def transform(bucket):
        vec = _load_bucket_values(index_dir, dv_name, bucket, bucket_size)
        if vec is None:
            vec = np.zeros(bucket_size, dtype=np.float64)
        return _decay_multiplier(vec, *params), None

    return _topk_over_segments(
        spark, index_dir, meta, terms, k, transform=transform
    )


_SORT_SCHEMA = "doc_id long, value double, score double"


def sort_by_field_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    dv_name: str,
    k: int = 10,
    ascending: bool = False,
    mode: str = "or",
) -> DataFrame:
    """ES sort-by-field: top-k MATCHING docs ranked by a doc-values
    plane instead of relevance — (value desc|asc, doc_id asc), BM25
    score carried for display. Eligibility = the query's match set
    (mode="or" any term, "and" all terms); docs missing from the plane
    sort with value 0.0 (the plane's dense default — pinned).

    Scale shape: block-max metadata orders by SCORE, so no admissible
    skip exists for a value-ordered top-k (Lucene gets one by sorting
    the index itself on the field — noted as the index-sort refinement);
    each bucket decodes its pruned term rows once (OR-union / AND
    intersection), ranks its ≤bucket_size matches against the
    task-locally read value vector, and returns ≤k rows — the global
    step is the same bounded TakeOrderedAndProject as every scorer."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    meta = IndexMeta.load(index_dir)
    terms = terms_for_index(meta, query)
    if not terms:
        return spark.createDataFrame([], _SORT_SCHEMA)
    n_docs, avgdl, bucket_size = meta.n_docs, meta.avgdl, meta.bucket_size
    idx_dir, name, asc = index_dir, dv_name, bool(ascending)
    n_terms = len(terms)

    def make_fn(excl_local):
        def fn(key, seg_pdf):
            empty = pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "value": pd.Series([], dtype="float64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
            if not len(seg_pdf):
                return empty
            idf_map = _idf_map(n_docs, seg_pdf)
            if mode == "and":
                scored = _score_bucket_and(
                    seg_pdf, idf_map, avgdl, bucket_size, n_terms, None,
                    excl=excl_local,
                )
            else:
                scored = _score_bucket(
                    seg_pdf, idf_map, avgdl, bucket_size,
                    k=bucket_size, excl=excl_local, count_matches=False,
                )
            if not len(scored):
                return empty
            bucket = int(seg_pdf["bucket"].iloc[0])
            vec = _load_bucket_values(idx_dir, name, bucket, bucket_size)
            ids = scored["doc_id"].to_numpy()
            vals = (
                np.zeros(len(ids))
                if vec is None
                else vec[ids - bucket * bucket_size]
            )
            order = np.lexsort((ids, vals if asc else -vals))[:k]
            return pd.DataFrame(
                {
                    "doc_id": ids[order].astype("int64"),
                    "value": vals[order],
                    "score": scored["score"].to_numpy()[order],
                }
            )

        return fn

    per_bucket = run_ranges(spark, index_dir, meta, terms, make_fn, _SORT_SCHEMA)
    val_order = F.asc("value") if asc else F.desc("value")
    return per_bucket.orderBy(val_order, F.asc("doc_id")).limit(k)


def saturation_pivot(df, col):
    """ES's default rank_feature pivot: (approximately) the geometric
    mean of the feature — exp(mean(ln f)) over positive values, one
    aggregate."""
    from pyspark.sql import functions as F

    return (
        df.filter(F.col(col) > 0)
        .agg(F.exp(F.avg(F.log(F.col(col)))).alias("pivot"))
        .collect()[0]["pivot"]
    )


def rank_feature_expr(
    feature,
    fn: str = "saturation",
    pivot: float = 1.0,
    exponent: float = 2.0,
    scaling: float = 1.0,
    boost: float = 1.0,
):
    """ES `rank_feature` query scoring as a Column (Elasticsearch
    rank_feature docs): static per-doc signals (pagerank, freshness,
    url depth) folded into relevance with a BOUNDED monotone transform
    so no document rides a runaway raw value —

    * ``saturation``: boost·f/(f+pivot)  (bounded by boost; pivot =
      the feature value scoring 0.5·boost — ES defaults it to the
      field's approximate geometric mean, `saturation_pivot`);
    * ``log``: boost·ln(scaling + f)  (unbounded, for features already
      log-shaped);
    * ``sigmoid``: boost·f^exp/(f^exp + pivot^exp)  (saturation with a
      tunable knee).

    Pure scan-side arithmetic; negative features are clamped to 0
    (ES requires non-negative rank_feature fields). The doc-values
    machinery above (`blended_topk`) is where such a score joins
    BM25 with admissible pruning; this expression is the scoring
    contract itself, engine-portable."""
    from pyspark.sql import functions as F

    f = F.greatest(
        (feature if not isinstance(feature, str) else F.col(feature)).cast(
            "double"
        ),
        F.lit(0.0),
    )
    if fn == "saturation":
        s = f / (f + F.lit(float(pivot)))
    elif fn == "log":
        s = F.log(F.lit(float(scaling)) + f)
    elif fn == "sigmoid":
        fp = F.pow(f, F.lit(float(exponent)))
        s = fp / (fp + F.pow(F.lit(float(pivot)), F.lit(float(exponent))))
    else:
        raise ValueError("fn must be saturation, log, or sigmoid")
    return F.lit(float(boost)) * s
