"""CheckIndex: structural integrity verification of a built index
(Lucene's ``CheckIndex`` analog — the ops tool you run before trusting
a segment set after a migration, a crash, or a storage incident).

Distributed shape: one map stage over the segment relation — each
task exhaustively decodes the rows of its scan batches (mapInPandas, the
same numpy decode the scorers use), emitting issue rows, with no
shuffle; the doc store checks are one per-bucket aggregate. On a
cluster the check parallelizes over the scan's splits; at 10^12 docs it
is one full-scan job, the price of certainty.

Checks per segment row (term × bucket × fragment):

* postings decode cleanly; doc ids strictly increasing, inside the
  row's bucket doc-range;
* ``df`` column == decoded posting count; tf ≥ 1; doc_len ≥ tf;
* block fences: ``block_last_doc[i]`` equals the decoded id at each
  block boundary; ``block_offsets`` strictly increasing from 0;
* block-max ADMISSIBILITY (the one that silently corrupts rankings):
  stored ``block_max[i]`` must be ≥ the true max BM25 tf-factor of its
  block under the row's build avgdl (``gen_avgdl`` when present, else
  the root avgdl) — and equal to it within float32 rounding;
* positional plane (when present): per-posting position counts == tf,
  positions strictly ascending.

Checks per doc-store bucket: doc ids sorted, unique, inside the bucket
range, url non-null. Global: doc-store total == meta.n_docs (plus
tombstone count on tombstoned indexes, whose ids must sit inside the id
ceiling); per-generation ``df_global`` == Σ fragment ``df`` per term.

Returns {"ok": bool, "issues": [...], "stats": {...}} — issues capped
at 100 rows per scan batch to keep a broken index's report bounded.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uci_searchengine_spark.operators.codec import (
    bm25_tf_factor,
    unpack_positions,
    unpack_postings,
)
from uci_searchengine_spark.operators.index_build import (
    IndexMeta,
    generation_dirs,
    load_segments,
)

_ISSUE = T.StructType(
    [
        T.StructField("where", T.StringType(), False),
        T.StructField("problem", T.StringType(), False),
    ]
)

_CAP = 100


def _check_seg_rows(meta: IndexMeta):
    bucket_size = meta.bucket_size
    root_avgdl = meta.avgdl

    def fn(pdf):
        issues: list[tuple[str, str]] = []
        has_gen = "gen_avgdl" in pdf.columns
        has_pos = "positions" in pdf.columns
        for r in pdf.itertuples(index=False):
            if len(issues) >= _CAP:
                break
            where = f"shard={r.shard} term={r.term} bucket={r.bucket}"
            avgdl = float(r.gen_avgdl) if has_gen else root_avgdl
            try:
                d, tf, dl = unpack_postings(bytes(r.postings))
            except Exception as e:  # noqa: BLE001 — report, don't die
                issues.append((where, f"postings decode failed: {e}"))
                continue
            if d.size == 0:
                issues.append((where, "empty posting list"))
                continue
            if int(r.df) != d.size:
                issues.append((where, f"df={int(r.df)} != postings {d.size}"))
            if d.size > 1 and not (np.diff(d) > 0).all():
                issues.append((where, "doc ids not strictly increasing"))
            base = int(r.bucket) * bucket_size
            if d[0] < base or d[-1] >= base + bucket_size:
                issues.append((where, "doc id outside bucket range"))
            if (tf < 1).any():
                issues.append((where, "tf < 1"))
            if (dl < tf).any():
                issues.append((where, "doc_len < tf"))
            lasts = np.asarray(r.block_last_doc, dtype=np.int64)
            offs = np.asarray(r.block_offsets, dtype=np.int64)
            bmax = np.asarray(r.block_max, dtype=np.float64)
            from uci_searchengine_spark import BLOCK_SIZE

            n_blocks = (d.size + BLOCK_SIZE - 1) // BLOCK_SIZE
            if len(lasts) != n_blocks or len(offs) != n_blocks:
                issues.append(
                    (where, f"block metadata length != {n_blocks} blocks")
                )
                continue
            if offs[0] != 0 or (np.diff(offs) <= 0).any():
                issues.append((where, "block_offsets not increasing from 0"))
            fences = d[np.minimum(
                np.arange(1, n_blocks + 1) * BLOCK_SIZE - 1, d.size - 1
            )]
            if not np.array_equal(lasts, fences):
                issues.append((where, "block_last_doc fences mismatch"))
            factors = bm25_tf_factor(tf, dl, avgdl)
            for bi in range(n_blocks):
                lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, d.size)
                true_max = factors[lo:hi].max()
                stored = bmax[bi]
                # stored is float32 of the true max: must be admissible
                # (>= true max minus f32 rounding) and tight (== within
                # f32 rounding)
                if stored < true_max * (1 - 1e-6):
                    issues.append(
                        (where, f"block_max[{bi}] NOT admissible: "
                                f"{stored} < {true_max}")
                    )
                elif stored > true_max * (1 + 1e-6):
                    issues.append(
                        (where, f"block_max[{bi}] overtight bound: "
                                f"{stored} > {true_max}")
                    )
            if has_pos and r.positions is not None:
                try:
                    pos_flat, row_off = unpack_positions(
                        bytes(r.positions), tf
                    )
                    for i in range(d.size):
                        seg = pos_flat[row_off[i] : row_off[i + 1]]
                        if seg.size != int(tf[i]):
                            issues.append((where, "positions count != tf"))
                            break
                        if seg.size > 1 and not (np.diff(seg) > 0).all():
                            issues.append((where, "positions not ascending"))
                            break
                except Exception as e:  # noqa: BLE001
                    issues.append((where, f"positions decode failed: {e}"))
        return pd.DataFrame(issues, columns=["where", "problem"])

    return fn


def check_index(spark: SparkSession, index_dir: str) -> dict:
    """Full structural check; one pass over segments + doc store."""
    meta = IndexMeta.load(index_dir)
    seg = load_segments(spark, index_dir)
    check = _check_seg_rows(meta)
    seg_issues = [
        (r["where"], r["problem"])
        for r in seg.mapInPandas(
            lambda batches: map(check, batches), schema=_ISSUE
        ).collect()
    ]

    # doc store: per-bucket uniqueness/range + url presence
    from uci_searchengine_spark.operators.index_build import load_docs

    docs = load_docs(spark, index_dir)
    b, bs = F.col("bucket"), meta.bucket_size
    doc_issues = []
    for r in (
        docs.groupBy("bucket")
        .agg(
            (F.count("doc_id") != F.countDistinct("doc_id")).alias("dup"),
            ((F.min("doc_id") < b * bs) | (F.max("doc_id") >= (b + 1) * bs))
            .alias("outside"),
            F.max(F.col("url").isNull()).alias("null_url"),
        )
        .filter("dup OR outside OR null_url")
        .collect()
    ):
        where = f"docs bucket={r['bucket']}"
        for flag, problem in (
            ("dup", "duplicate doc ids"),
            ("outside", "doc id outside bucket dir range"),
            ("null_url", "null url"),
        ):
            if r[flag]:
                doc_issues.append((where, problem))

    # per-FILE doc_id order (the DOCS_ROW_GROUP fetch prunes on footer
    # stats assuming sorted files — a groupBy shuffle can't observe file
    # order, so files distribute as a task list and each task reads its
    # file's doc_id column)
    doc_files: list[str] = []
    for gdir in generation_dirs(index_dir):
        root = os.path.join(gdir, "docs")
        if not os.path.isdir(root):
            continue
        for bd in sorted(os.listdir(root)):
            p = os.path.join(root, bd)
            if not os.path.isdir(p):
                continue
            doc_files.extend(
                os.path.join(p, fn)
                for fn in sorted(os.listdir(p))
                if fn.endswith(".parquet")
            )

    def _file_order(paths):
        import pyarrow.parquet as _pq

        for fp in paths:
            ids = _pq.read_table(fp, columns=["doc_id"])["doc_id"].to_numpy()
            if ids.size > 1 and not bool((np.diff(ids) > 0).all()):
                yield (fp, "doc store file not doc_id-sorted")

    order_issues = []
    if doc_files:
        order_issues = (
            spark.sparkContext.parallelize(
                doc_files, numSlices=min(len(doc_files), 64)
            )
            .mapPartitions(lambda it: _file_order(list(it)))
            .collect()
        )

    issues = seg_issues + doc_issues + [tuple(x) for x in order_issues]

    # global counts: doc store + tombstones vs meta
    n_store = docs.count()
    from uci_searchengine_spark.operators import tombstones as _tomb

    tomb = _tomb.load_tombstone_ids(index_dir)
    nxt = int(getattr(meta, "next_doc_id", -1) or -1)
    ceiling = nxt if nxt > 0 else meta.n_docs  # -1 sentinel = "== n_docs"
    # Lucene-frozen stats: tombstoned docs stay in BOTH n_docs and the
    # doc store until merge/compact fold them — the store row count
    # equals meta.n_docs at every lifecycle point
    if n_store != meta.n_docs:
        issues.append(
            ("meta", f"doc store rows {n_store} != meta n_docs {meta.n_docs}")
        )
    if tomb.size and (tomb.min() < 0 or tomb.max() >= ceiling):
        issues.append(("meta", "tombstone id outside the id ceiling"))

    # per-generation df_global == sum of fragment dfs per term
    for gi, gdir in enumerate(generation_dirs(index_dir)):
        gseg = spark.read.option(
            "basePath", os.path.join(gdir, "segments")
        ).parquet(os.path.join(gdir, "segments"))
        bad = (
            gseg.groupBy("term", "df_global")
            .agg(F.sum("df").alias("s"))
            .filter(F.col("s") != F.col("df_global"))
            .count()
        )
        if bad:
            issues.append(
                (f"gen={gi}", f"{bad} terms with df_global != sum(df)")
            )

    return {
        "ok": not issues,
        "issues": [{"where": w, "problem": p} for w, p in issues[:500]],
        "stats": {
            "segment_rows": seg.count(),
            "doc_rows": int(n_store),
            "tombstones": int(tomb.size),
            "generations": getattr(meta, "gens", 1),
        },
    }
