"""Per-window bound fold (Lucene impact-sorting analog) of the OR
kernel under a per-doc score transform (doc-value bonus ``add``, decay
``mul``): admissibility (per-window bounds return EXACTLY the
scalar-bound / brute-force results) and the measured skip-rate win on a
skewed corpus — high-bonus docs and the remaining terms' postings in
DIFFERENT windows, where the bucket-scalar bound cannot trigger early.
The scalar reference is the same kernel with its window widened to the
whole bucket; skip rates are decoded-posting counts.

Pure numpy/pandas unit tests over synthetic segment rows (codec
pack_postings) — no Spark session.
"""

import numpy as np
import pandas as pd
import pytest

from uci_searchengine_spark import BM25_B, BM25_K1
from uci_searchengine_spark.operators import wand
from uci_searchengine_spark.operators.codec import pack_postings
from uci_searchengine_spark.operators.wand import (
    _score_bucket,
    _term_window_ub,
    _window_max,
)

BUCKET = 1024
AVGDL = 100.0


def _seg_row(term, doc_ids, tfs, bucket=0):
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.full(doc_ids.size, int(AVGDL), dtype=np.int64)
    blob, bmax, boff, blast = pack_postings(doc_ids, tfs, dls, AVGDL)
    return {
        "term": term,
        "bucket": bucket,
        "postings": blob,
        "block_max": bmax,
        "block_offsets": boff,
        "block_last_doc": blast,
    }


def _seg(rows):
    return pd.DataFrame(rows)


def _brute_blended(terms, idf_map, bonus, k):
    """(doc_id, score) top-k oracle: plain accumulation + bonus."""
    acc = np.zeros(BUCKET)
    seen = np.zeros(BUCKET, dtype=bool)
    for term, doc_ids, tfs in terms:
        w = idf_map[term]
        d = np.asarray(doc_ids)
        tf = np.asarray(tfs, dtype=np.float64)
        kdl = BM25_K1 * (1.0 - BM25_B + BM25_B * 1.0)  # dl == avgdl
        acc[d] += w * tf * (BM25_K1 + 1.0) / (tf + kdl)
        seen[d] = True
    ids = np.flatnonzero(seen)
    sc = acc[ids] + (bonus[ids] if bonus is not None else 0.0)
    order = np.lexsort((ids, -sc))[:k]
    return list(zip(ids[order].tolist(), sc[order].tolist()))


def _skewed_case():
    """t1 (highest ub) covers every doc; t2/t3 live ONLY in window 0;
    the bonus mass lives ONLY in window 5. The scalar bound sees
    remaining_ub(t2+t3) + max_bonus and cannot trigger after t1; the
    per-window bound sees window 0 = t2+t3 but no bonus, window 5 =
    bonus but no remaining terms, and triggers immediately."""
    all_docs = np.arange(BUCKET)
    t1_tfs = np.ones(BUCKET, dtype=np.int64)
    t1_tfs[640] = 50  # one heavy posting so t1 sorts first
    rare_docs = np.arange(64)
    terms = [
        ("t1", all_docs, t1_tfs),
        ("t2", rare_docs, np.ones(64, dtype=np.int64)),
        ("t3", rare_docs, np.ones(64, dtype=np.int64)),
    ]
    idf_map = {"t1": 6.0, "t2": 5.0, "t3": 5.0}
    bonus = np.zeros(BUCKET)
    bonus[640:704] = 50.0  # window 5
    seg = _seg([_seg_row(t, d, tf) for t, d, tf in terms])
    return terms, idf_map, bonus, seg


def _kernel(monkeypatch, seg, idf_map, k, per_block, **transform):
    """Run the kernel; returns (hits, postings decoded). ``per_block``
    False widens the bound window to the whole bucket (scalar bound)."""
    decoded = []
    real = wand.unpack_postings

    def counting(*a, **kw):
        out = real(*a, **kw)
        decoded.append(len(out[0]))
        return out

    with monkeypatch.context() as m:
        m.setattr(wand, "unpack_postings", counting)
        if not per_block:
            m.setattr(wand, "_WINDOW", BUCKET)
        out = _score_bucket(seg, idf_map, AVGDL, BUCKET, k, **transform)
    hits = [(int(r.doc_id), float(r.score)) for r in out.itertuples()]
    return hits, sum(decoded)


def _run(monkeypatch, seg, idf_map, bonus, k, per_block):
    return _kernel(monkeypatch, seg, idf_map, k, per_block, add=bonus)


class TestBlendedFold:
    def test_admissible_and_equal_paths(self, monkeypatch):
        terms, idf_map, bonus, seg = _skewed_case()
        want = _brute_blended(terms, idf_map, bonus, k=5)
        got_pb, _ = _run(monkeypatch, seg, idf_map, bonus, 5, per_block=True)
        got_sc, _ = _run(monkeypatch, seg, idf_map, bonus, 5, per_block=False)
        assert [d for d, _ in got_pb] == [d for d, _ in want]
        assert got_pb == got_sc
        for (gd, gs), (wd, ws) in zip(got_pb, want):
            assert abs(gs - ws) < 1e-9

    def test_skip_rate_improves(self, monkeypatch):
        _, idf_map, bonus, seg = _skewed_case()
        _, dec_pb = _run(monkeypatch, seg, idf_map, bonus, 5, per_block=True)
        _, dec_sc = _run(monkeypatch, seg, idf_map, bonus, 5, per_block=False)
        # per-window bound triggers right after the first term, so only
        # t1's postings are decoded; the scalar bound needs a second
        # full decode first
        assert dec_pb == BUCKET
        assert dec_pb < dec_sc
        # and the win is the whole rare-term volume (64 postings decoded
        # by the scalar path before its trigger)
        assert dec_sc - dec_pb >= 64

    @pytest.mark.parametrize("seed", [1, 7, 42])
    def test_fuzz_paths_identical(self, seed, monkeypatch):
        rng = np.random.RandomState(seed)
        terms = []
        for i in range(5):
            n = rng.randint(10, 400)
            docs = np.sort(rng.choice(BUCKET, size=n, replace=False))
            tfs = rng.randint(1, 8, size=n)
            terms.append((f"t{i}", docs, tfs))
        idf_map = {f"t{i}": float(rng.uniform(0.5, 6.0)) for i in range(5)}
        bonus = rng.uniform(0, 10, size=BUCKET) * (
            rng.uniform(size=BUCKET) < 0.1
        )
        seg = _seg([_seg_row(t, d, tf) for t, d, tf in terms])
        want = _brute_blended(terms, idf_map, bonus, k=10)
        got_pb, dec_pb = _run(monkeypatch, seg, idf_map, bonus, 10, per_block=True)
        got_sc, dec_sc = _run(monkeypatch, seg, idf_map, bonus, 10, per_block=False)
        assert [d for d, _ in got_pb] == [d for d, _ in want]
        assert got_pb == got_sc
        assert dec_pb <= dec_sc


class TestDecayedFold:
    def _run_decay(self, monkeypatch, seg, idf_map, mult, k, per_block):
        return _kernel(monkeypatch, seg, idf_map, k, per_block, mul=mult)

    def _brute_decay(self, terms, idf_map, mult, k):
        acc = np.zeros(BUCKET)
        seen = np.zeros(BUCKET, dtype=bool)
        for term, doc_ids, tfs in terms:
            w = idf_map[term]
            d = np.asarray(doc_ids)
            tf = np.asarray(tfs, dtype=np.float64)
            kdl = BM25_K1 * (1.0 - BM25_B + BM25_B * 1.0)
            acc[d] += w * tf * (BM25_K1 + 1.0) / (tf + kdl)
            seen[d] = True
        ids = np.flatnonzero(seen)
        sc = acc[ids] * mult[ids]
        order = np.lexsort((ids, -sc))[:k]
        return list(zip(ids[order].tolist(), sc[order].tolist()))

    def _skewed_decay(self):
        """Undecayed docs (mult 1.0) only in window 5; t2/t3 postings
        only in window 0 where everything is decayed to 0.01."""
        terms, idf_map, _, seg = _skewed_case()
        mult = np.full(BUCKET, 0.01)
        mult[640:704] = 1.0
        return terms, idf_map, mult, seg

    def test_admissible_and_equal_paths(self, monkeypatch):
        terms, idf_map, mult, seg = self._skewed_decay()
        want = self._brute_decay(terms, idf_map, mult, k=5)
        got_pb, _ = self._run_decay(monkeypatch, seg, idf_map, mult, 5, per_block=True)
        got_sc, _ = self._run_decay(monkeypatch, seg, idf_map, mult, 5, per_block=False)
        assert [d for d, _ in got_pb] == [d for d, _ in want]
        assert got_pb == got_sc

    def test_skip_rate_improves(self, monkeypatch):
        terms, idf_map, mult, seg = self._skewed_decay()
        _, dec_pb = self._run_decay(monkeypatch, seg, idf_map, mult, 5, per_block=True)
        _, dec_sc = self._run_decay(monkeypatch, seg, idf_map, mult, 5, per_block=False)
        assert dec_pb == BUCKET  # triggers right after t1
        assert dec_pb < dec_sc

    @pytest.mark.parametrize("seed", [3, 11])
    def test_fuzz_paths_identical(self, seed, monkeypatch):
        rng = np.random.RandomState(seed)
        terms = []
        for i in range(4):
            n = rng.randint(10, 300)
            docs = np.sort(rng.choice(BUCKET, size=n, replace=False))
            tfs = rng.randint(1, 6, size=n)
            terms.append((f"t{i}", docs, tfs))
        idf_map = {f"t{i}": float(rng.uniform(0.5, 6.0)) for i in range(4)}
        mult = rng.uniform(0, 1, size=BUCKET)
        seg = _seg([_seg_row(t, d, tf) for t, d, tf in terms])
        want = self._brute_decay(terms, idf_map, mult, k=10)
        got_pb, _ = self._run_decay(monkeypatch, seg, idf_map, mult, 10, per_block=True)
        got_sc, _ = self._run_decay(monkeypatch, seg, idf_map, mult, 10, per_block=False)
        assert [d for d, _ in got_pb] == [d for d, _ in want]
        assert got_pb == got_sc


class TestGridSoundness:
    def test_term_window_ub_covers_block_ranges(self):
        """For every posting (d, contribution), the grid entry of the
        posting's window must be >= the actual contribution."""
        rng = np.random.RandomState(5)
        n = 300
        docs = np.sort(rng.choice(BUCKET, size=n, replace=False))
        tfs = rng.randint(1, 9, size=n)
        row = _seg_row("t", docs, tfs)
        w = 3.0
        bm = np.asarray(row["block_max"], dtype=np.float64)
        ub = w * (BM25_K1 + 1.0) * bm.max()
        r = next(_seg([row]).itertuples(index=False))
        grid = _term_window_ub([(ub, w, r)], 0, BUCKET)
        kdl = BM25_K1 * (1.0 - BM25_B + BM25_B * 1.0)
        contrib = w * tfs * (BM25_K1 + 1.0) / (tfs + kdl)
        for d, c in zip(docs, contrib):
            # block_max is stored float32 (codec-wide convention): the
            # grid is sound to within one float32 ulp of the true
            # contribution — the same tolerance every scorer carries
            assert grid[0, d // 128] >= c * (1.0 - 1e-6)
        # windows with no postings bound to zero
        covered = set((docs // 128).tolist())
        for j in range(grid.shape[1]):
            if j not in covered:
                assert grid[0, j] == 0.0

    def test_window_max(self):
        vec = np.zeros(1000)
        vec[3] = 7.0
        vec[999] = 2.0
        wm = _window_max(vec, 8)
        assert wm[0] == 7.0 and wm[7] == 2.0 and wm[1:7].max() == 0.0
