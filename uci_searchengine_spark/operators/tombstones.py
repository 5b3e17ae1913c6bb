"""Soft deletes (tombstones) for a built index.

``delete_docs`` appends doc ids to ``<index>/tombstones/*.parquet``;
every query path subtracts them from its candidates. Deliberately
Lucene-shaped semantics: corpus statistics (n_docs, avgdl, df) keep
counting tombstoned docs until the index is rebuilt/compacted — deletes
are metadata, scoring of surviving docs is unchanged, and a rebuild
without the deleted pages is the compaction step.

Scale note: below ``DRIVER_CAP`` (~10^7 ids, 80 MB) the exclusion set
is loaded driver-side as a sorted int64 array and shipped in the scorer
closures (the same mechanism boolean NOT uses) — exact and cheap for
the common case. Past the cap the scorers switch to the bucket-
cogrouped exclusion relation (``bucketed_tombstones``): tombstones are
keyed by the SAME doc-range bucket grid as the segments, so each
scoring task cogroups its own bucket's exclusion ids — no driver
materialization at any tombstone count (wand.apply_per_bucket); the
search envelope's range tasks read their doc-id range of the files
(``load_tombstone_ids(index_dir, lo, hi)``).

Reference: no delete path exists (crawled pages are append-only);
breadth extension.
"""

from __future__ import annotations

import os
import threading
import uuid

import numpy as np

# max tombstones shipped as a driver-side closure array; beyond this the
# scorers cogroup the bucketed relation instead. Module-level so tests
# can lower it to exercise the cogrouped path on small fixtures.
DRIVER_CAP = 10_000_000


def delete_docs(index_dir: str, doc_ids) -> int:
    """Append tombstones; returns the total tombstone count (exact when
    the set fits the driver cap, else the parquet-metadata upper bound)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    d = os.path.join(index_dir, "tombstones")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"tomb-{uuid.uuid4().hex[:12]}.parquet")
    pq.write_table(pa.table({"doc_id": ids}), path + ".tmp")
    os.replace(path + ".tmp", path)
    if tombstone_count_estimate(index_dir) <= DRIVER_CAP:
        return int(load_tombstone_ids(index_dir).size)
    return tombstone_count_estimate(index_dir)


def _files(index_dir: str) -> list[str]:
    from uci_searchengine_spark.operators.index_build import parquet_files

    return parquet_files(os.path.join(index_dir, "tombstones"))


def state_token(index_dir: str) -> tuple:
    """``(name, st_ino, st_size, st_mtime_ns)`` of every tombstone file,
    sorted — changes with every ``delete_docs`` / ``clear_tombstones``,
    the only in-place mutations of an index."""
    d = os.path.join(index_dir, "tombstones")
    try:
        names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
    except OSError:
        return ()
    out = []
    for n in names:
        try:
            st = os.stat(os.path.join(d, n))
        except OSError:
            continue
        out.append((n, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def tombstone_count_estimate(index_dir: str) -> int:
    """Upper bound on the tombstone count from parquet footers only
    (duplicate deletes counted twice; the footers come from the
    process's memo, ``index_build.footer``)."""
    from uci_searchengine_spark.operators.index_build import footer

    return sum(footer(f).metadata.num_rows for f in _files(index_dir))


def bucketed_tombstones(spark, index_dir: str, bucket_size: int):
    """The scale path: tombstones as a Spark relation keyed by the
    index's doc-range bucket — cogroup-ready against the segment grid.
    Duplicate ids are fine (per-bucket consumers np.unique locally)."""
    from pyspark.sql import functions as F

    d = os.path.join(index_dir, "tombstones")
    return (
        spark.read.parquet(d)
        .select(
            (F.col("doc_id") / F.lit(int(bucket_size)))
            .cast("long")
            .alias("bucket"),
            "doc_id",
        )
    )


# index dir -> (state_token, its whole tombstone array): the driver
# array every query's scorer excludes, re-read only when a tombstone
# file changes; a few index dirs at most per process
_ids_memo: "dict[str, tuple[tuple, np.ndarray]]" = {}
_ids_lock = threading.Lock()
_IDS_MEMO_DIRS = 8


def load_tombstone_ids(
    index_dir: str, lo: "int | None" = None, hi: "int | None" = None
) -> np.ndarray:
    """Sorted unique tombstoned doc ids (empty array if none). Exact
    driver-side load — callers that must scale past DRIVER_CAP use
    ``bucketed_tombstones`` instead (the scorers switch automatically),
    or read one doc-id range ``[lo, hi)`` (a doc_id-filtered read;
    the distributed envelope's range tasks). The whole array is
    memoized per index dir on ``state_token`` and returned read-only."""
    if lo is None:
        tok = state_token(index_dir)
        with _ids_lock:
            hit = _ids_memo.get(index_dir)
        if hit is not None and hit[0] == tok:
            return hit[1]
        ids = _read_ids(index_dir, None, None)
        ids.flags.writeable = False
        with _ids_lock:
            _ids_memo.pop(index_dir, None)
            if len(_ids_memo) >= _IDS_MEMO_DIRS:
                _ids_memo.pop(next(iter(_ids_memo)))
            _ids_memo[index_dir] = (tok, ids)
        return ids
    return _read_ids(index_dir, lo, hi)


def _read_ids(index_dir: str, lo: "int | None", hi: "int | None") -> np.ndarray:
    import pyarrow.parquet as pq

    parts = [
        pq.read_table(
            f, columns=["doc_id"],
            filters=None if lo is None
            else [("doc_id", ">=", lo), ("doc_id", "<", hi)],
        )
        .column("doc_id")
        .to_numpy()
        for f in _files(index_dir)
    ]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts)).astype(np.int64)


def is_deleted(index_dir: str, doc_id: int) -> bool:
    """Membership test for ONE doc id — a filtered single-column read of
    the tombstone files (row-group stats prune), constant memory at any
    tombstone count (never materializes the full set)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = _files(index_dir)
    if not files:
        return False
    t = ds.dataset(files).to_table(
        columns=["doc_id"], filter=pc.field("doc_id") == int(doc_id)
    )
    return t.num_rows > 0


def clear_tombstones(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, "tombstones"), ignore_errors=True)
