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
the common case. Past the cap every range task of the distributed
plans (the search envelope and the top-k scorers' map stage, which
share one scatter, ``wand._scatter``) reads its own doc-id range of the
files (``load_tombstone_ids(index_dir, lo, hi)``, through
``wand.BucketedExcl``) — no driver materialization at any tombstone
count, and no extra plan node. ``delete_docs`` writes one row group
per bucket, so such a read decodes only its own buckets' row groups
(files written before that hold one row group and are decoded whole).

Reference: no delete path exists (crawled pages are append-only);
breadth extension.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import numpy as np

# max tombstones shipped as a driver-side closure array; beyond this
# each scoring task reads its own range of the files instead.
# Module-level so tests can lower it to exercise the per-task reads on
# small fixtures.
DRIVER_CAP = 10_000_000


def delete_docs(index_dir: str, doc_ids) -> int:
    """Append tombstones; returns the total tombstone count (exact when
    the set fits the driver cap, else the parquet-metadata upper bound).

    The file holds one row group per doc-range bucket of the index's
    grid (``meta.json``'s ``bucket_size``), so a task reading one
    bucket's ids decodes only that bucket's row group of each file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    d = os.path.join(index_dir, "tombstones")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"tomb-{uuid.uuid4().hex[:12]}.parquet")
    # meta.json read directly: IndexMeta.load may itself call delete_docs
    with open(os.path.join(index_dir, "meta.json")) as f:
        bs = int(json.load(f)["bucket_size"])
    cuts = np.flatnonzero(np.diff(ids // bs)) + 1
    schema = pa.schema([("doc_id", pa.int64())])
    with pq.ParquetWriter(path + ".tmp", schema) as w:
        for part in np.split(ids, cuts):
            w.write_table(pa.table({"doc_id": part}, schema=schema))
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
    driver-side load — past DRIVER_CAP a scoring task reads only its
    doc-id range ``[lo, hi)`` (``wand.BucketedExcl``; the scorers switch
    automatically). The whole array is memoized per index dir on
    ``state_token`` and returned read-only."""
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
    """The files' ids in ``[lo, hi)`` (all when ``lo`` is None): only
    the row groups whose doc_id stats meet the range are read, over the
    process's footer memo (``index_build.footer``)."""
    from uci_searchengine_spark.operators.index_build import footer

    def keep(a, b):
        return lo is None or (a < hi and b >= lo)

    parts = []
    for f in _files(index_dir):
        ft = footer(f)
        rgs = ft.row_groups("doc_id", keep)
        if rgs:
            a = ft.read(rgs, ["doc_id"]).column("doc_id").to_numpy()
            parts.append(a if lo is None else a[(a >= lo) & (a < hi)])
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts)).astype(np.int64)


def is_deleted(index_dir: str, doc_id: int) -> bool:
    """Membership test for ONE doc id — a one-id range read (row-group
    stats prune), constant memory at any tombstone count."""
    return load_tombstone_ids(index_dir, int(doc_id), int(doc_id) + 1).size > 0


def clear_tombstones(index_dir: str) -> None:
    import shutil

    shutil.rmtree(os.path.join(index_dir, "tombstones"), ignore_errors=True)
