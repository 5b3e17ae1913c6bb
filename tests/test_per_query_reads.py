"""What a query reads besides its postings: parquet footers and decoded
column chunks come from the per-process memo (index_build.footer,
Footer.read), the driver's tombstone array is re-read only when a
tombstone file changes, a Searcher analyzes its Spark relations only
when a relational surface needs them, and the did-you-mean membership
probe runs no Spark job."""

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from uci_searchengine_spark.operators import index_build


@pytest.fixture
def footer_reads(monkeypatch):
    """Paths whose parquet footer was parsed (``pq.read_metadata``, or a
    ``ParquetFile`` opened without a footer handed in)."""
    reads: list[str] = []
    real_md, real_pf = pq.read_metadata, pq.ParquetFile

    def read_metadata(where, *a, **k):
        reads.append(str(where))
        return real_md(where, *a, **k)

    class ParquetFile(real_pf):
        def __init__(self, source, *a, metadata=None, **k):
            if metadata is None:
                reads.append(str(source))
            super().__init__(source, *a, metadata=metadata, **k)

    monkeypatch.setattr(pq, "read_metadata", read_metadata)
    monkeypatch.setattr(pq, "ParquetFile", ParquetFile)
    return reads


@pytest.fixture
def chunk_reads(monkeypatch):
    """Row groups decoded through ``ParquetFile.read_row_group(s)``."""
    reads: list = []
    for name in ("read_row_group", "read_row_groups"):
        real = getattr(pq.ParquetFile, name)

        def counted(self, i, *a, _real=real, **k):
            reads.append(i)
            return _real(self, i, *a, **k)

        monkeypatch.setattr(pq.ParquetFile, name, counted)
    return reads


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty footer/chunk memo for this test only."""
    memo = index_build._Memo()
    monkeypatch.setattr(index_build, "_memo", memo)
    return memo


@pytest.fixture
def index_copy(index_small, tmp_path):
    """A private, mutable copy of index_small (its paths are new to the
    process's footer memo)."""
    d = str(tmp_path / "idx")
    shutil.copytree(index_small, d)
    return d


def test_footer_memo_rereads_a_rewritten_file(tmp_path, footer_reads):
    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), p)
    assert index_build.footer(p).metadata.num_rows == 3
    assert index_build.footer(p).read([0], ["x"])["x"].to_pylist() == [1, 2, 3]
    assert footer_reads.count(p) == 1
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), p)  # same path
    assert index_build.footer(p).metadata.num_rows == 5
    assert footer_reads.count(p) == 2
    assert index_build.footer(p).read([0], ["x"])["x"].to_pylist() == [
        1, 2, 3, 4, 5
    ]
    # replaced by rename (a new inode), same row count
    pq.write_table(pa.table({"x": [7, 8, 9, 10, 11]}), p + ".tmp")
    shutil.move(p + ".tmp", p)
    ft = index_build.footer(p)
    assert footer_reads.count(p) == 3
    assert ft.ranges("x") == [(7, 11)]
    assert ft.read([0], ["x"])["x"].to_pylist() == [7, 8, 9, 10, 11]


def test_footer_memo_is_bounded(tmp_path, monkeypatch, fresh_memo):
    monkeypatch.setattr(index_build, "FOOTER_MEMO_ENTRIES", 3)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), p)
        index_build.footer(p).read([0], ["x"])
        paths.append(p)
    assert fresh_memo.files <= 3
    assert paths[-1] in fresh_memo.entries
    assert paths[0] not in fresh_memo.entries
    # a dropped file's chunks went with it
    assert {k[0] for k in fresh_memo.entries if isinstance(k, tuple)} <= set(
        paths[-3:]
    )


def _rg_file(path: str, i: int, groups: int = 4) -> list[int]:
    """A two-column file of ``groups`` row groups; returns its x."""
    xs = list(range(i, i + 10 * groups))
    pq.write_table(
        pa.table({"x": xs, "y": [str(x) * 3 for x in xs]}), path,
        row_group_size=10,
    )
    return xs


def test_chunk_memo_decodes_each_chunk_once(tmp_path, chunk_reads, fresh_memo):
    p = str(tmp_path / "f.parquet")
    xs = _rg_file(p, 0)
    ft = index_build.footer(p)
    assert ft.read([1, 3], ["x"])["x"].to_pylist() == xs[10:20] + xs[30:40]
    assert chunk_reads == [1, 3]
    # only the missing (row group, column) chunks are decoded
    t = ft.read([0, 1, 3], ["y", "x"])
    assert t.column_names == ["y", "x"]
    assert t["x"].to_pylist() == xs[:20] + xs[30:40]
    assert t["y"].to_pylist() == [str(x) * 3 for x in xs[:20] + xs[30:40]]
    assert chunk_reads == [1, 3, 0, 1, 3]
    assert ft.read([0, 1, 3], ["x", "y"]).equals(t.select(["x", "y"]))
    assert ft.read([], ["x"]).num_rows == 0
    assert chunk_reads == [1, 3, 0, 1, 3]
    assert fresh_memo.nbytes > 0
    # a zero-copy numpy view of a memoized chunk cannot be written
    a = ft.read([1], ["x"])["x"].chunk(0).to_numpy(zero_copy_only=True)
    assert not a.flags.writeable
    with pytest.raises(ValueError):
        a[0] = -1
    assert ft.read([1], ["x"])["x"].to_pylist() == xs[10:20]


def _bound_below_one_file(monkeypatch, memo, path: str, share: int):
    """Patch the byte bound to 1/``share`` of ``path``'s whole chunk
    set (measured in ``memo``); returns the bound and an empty memo."""
    index_build.footer(path).read([0, 1, 2, 3], ["x", "y"])
    bound = memo.nbytes // share
    monkeypatch.setattr(index_build, "CHUNK_MEMO_BYTES", bound)
    memo = index_build._Memo()
    monkeypatch.setattr(index_build, "_memo", memo)
    return bound, memo


def test_chunk_memo_is_bounded_in_bytes(tmp_path, monkeypatch, fresh_memo):
    paths = [str(tmp_path / f"f{i}.parquet") for i in range(3)]
    for i, p in enumerate(paths):
        _rg_file(p, 100 * i)
    bound, memo = _bound_below_one_file(monkeypatch, fresh_memo, paths[0], 2)
    for p in paths:
        t = index_build.footer(p).read([0, 1, 2, 3], ["x", "y"])
        assert t.num_rows == 40
        assert 0 < memo.nbytes <= bound
    # what is left is the last file's most recent chunks, under its footer
    keys = [k for k in memo.entries if isinstance(k, tuple)]
    assert {k[0] for k in keys} == {paths[-1]}
    assert set(keys) == memo.entries[paths[-1]].chunk_keys
    assert keys[-1][2:] == (3, "y")


@pytest.mark.spark
@pytest.mark.parametrize("plan", ["local", "spark"])
def test_repeated_query_reads_no_footer_on_the_driver(
    spark, index_copy, footer_reads, chunk_reads, plan
):
    """Nor does it decode a column chunk: the repeat is answered from
    the memo's decoded chunks."""
    from uci_searchengine_spark.operators.serving import Searcher

    s = Searcher(spark, index_copy, query_cache=0)
    first = s.search("stop0 arbak", plan=plan)
    assert first["total_results"] > 0
    assert any(p.startswith(index_copy) for p in footer_reads)
    assert chunk_reads
    del footer_reads[:], chunk_reads[:]
    again = s.search("stop0 arbak", plan=plan)
    assert s.last_plan == plan
    assert again == first
    assert footer_reads == []
    assert chunk_reads == []


def _queries(index_dir: str, n: int) -> list[tuple[str, str]]:
    """``n`` deterministic two-term (query, mode) pairs over the
    index's vocabulary, OR and AND alternating."""
    import random

    from uci_searchengine_spark.operators.local_search import vocab_local

    v = vocab_local(index_dir)
    terms = sorted(t for t, df in zip(v["term"], v["df"]) if t.isalpha() and df > 1)
    rnd = random.Random(11)
    return [
        (" ".join(rnd.sample(terms, 2)), ("or", "and")[i % 2]) for i in range(n)
    ]


@pytest.mark.spark
@pytest.mark.parametrize("plan", ["local", "spark"])
def test_answers_hold_under_a_small_chunk_bound(
    spark, index_small, monkeypatch, plan
):
    """A byte bound below the index's working set evicts chunks between
    queries, and every answer is still the unbounded one."""
    from uci_searchengine_spark.operators.serving import Searcher

    qs = _queries(index_small, 64)

    def answers():
        s = Searcher(spark, index_small, query_cache=0)
        return [s.search(q, mode=m, plan=plan) for q, m in qs]

    memo = index_build._Memo()
    monkeypatch.setattr(index_build, "_memo", memo)
    full = answers()
    assert sum(e["total_results"] > 0 for e in full) > 32
    bound = memo.nbytes // 4
    memo = index_build._Memo()
    monkeypatch.setattr(index_build, "_memo", memo)
    monkeypatch.setattr(index_build, "CHUNK_MEMO_BYTES", bound)
    assert answers() == full
    assert 0 < memo.nbytes <= bound


@pytest.mark.spark
@pytest.mark.parametrize("plan", ["local", "spark"])
def test_delete_between_queries_changes_the_answer(spark, index_copy, plan):
    from uci_searchengine_spark.operators.bm25 import terms_for_index
    from uci_searchengine_spark.operators.local_search import (
        local_topk_count_docs,
    )
    from uci_searchengine_spark.operators.serving import Searcher
    from uci_searchengine_spark.operators.tombstones import delete_docs

    s = Searcher(spark, index_copy, query_cache=0)
    q = "stop0 arbak"
    terms = terms_for_index(s.meta, q)
    before = s.search(q, plan=plan)
    (top,), _ = local_topk_count_docs(index_copy, s.meta, terms, terms, 1)
    assert before["results"][0]["url"] == top["url"]
    delete_docs(index_copy, [top["doc_id"]])
    after = s.search(q, plan=plan)
    assert after["total_results"] == before["total_results"] - 1
    assert top["url"] not in [r["url"] for r in after["results"]]


@pytest.mark.spark
@pytest.mark.parametrize("plan", ["local", "spark"])
def test_append_between_queries_surfaces_the_new_docs(spark, index_copy, plan):
    """The Searcher reloads its meta for the new generation, so its
    answer is a fresh Searcher's."""
    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.serving import Searcher

    s = Searcher(spark, index_copy, query_cache=0)
    q = "stop0 zzznewword"
    before = s.search(q, plan=plan)
    assert before["total_results"] > 0
    text = "zzznewword stop0 fresh generation page"
    batch = spark.createDataFrame(
        [("http://fresh.example/new", None, bytearray(text.encode()), text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    append_index(spark, batch, index_copy, input_snapshot="fresh-gen")
    after = s.search(q, plan=plan)
    assert after["total_results"] == before["total_results"] + 1
    assert after["results"][0]["url"] == "http://fresh.example/new"
    assert after == Searcher(spark, index_copy, query_cache=0).search(q, plan=plan)


@pytest.mark.spark
def test_build_and_append_leave_no_chunk_in_the_memo(spark, tmp_path, fresh_memo):
    """The write paths read their inputs without the memo: a build
    decodes nothing through it, and an append with an upsert only the
    tombstone ids (the array a query excludes), never a segment or
    doc-store chunk."""
    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.index_build import build_index
    from uci_searchengine_spark.sources.synth import synth_pages

    d = str(tmp_path / "idx")
    pages = synth_pages(spark, 1000, 3, partitions=4)
    build_index(spark, pages, d, num_shards=8, n_buckets=8, input_snapshot="w")
    assert fresh_memo.nbytes == 0
    old = pages.orderBy("url").limit(1).collect()[0]
    text = "upserted page text"
    batch = spark.createDataFrame(
        [(old["url"], old["warc_ts"], bytearray(text.encode()), text, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    append_index(spark, batch, d, input_snapshot="w2")
    chunks = [k[0] for k in fresh_memo.entries if isinstance(k, tuple)]
    assert chunks
    assert all("/tombstones/" in p for p in chunks)


@pytest.mark.spark
def test_searcher_construction_starts_no_spark_read(
    spark, index_small, monkeypatch
):
    from uci_searchengine_spark.operators import serving

    loads = []
    for name in ("load_segments", "load_docs"):
        real = getattr(serving, name)
        monkeypatch.setattr(
            serving, name,
            lambda *a, _real=real, _name=name: loads.append(_name) or _real(*a),
        )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("searcher-init", "searcher construction")
    try:
        s = serving.Searcher(spark, index_small)
        assert tracker.getJobIdsForGroup("searcher-init") == []
        s.search("stop0", plan="local")
    finally:
        sc.setJobGroup(None, None)
    assert loads == []
    # the relational top-k reads its ranges in its map stage: no
    # segment relation either
    s.top_k("stop0").collect()
    s.top_k("arbak").collect()
    assert loads == []
    # the resident relation the crawler statistics read is analyzed once
    assert s._segments is s._segments
    assert loads == ["load_segments"]


@pytest.mark.spark
def test_all_known_zero_hit_query_runs_one_job(spark, index_small, oracle_small):
    """A zero-hit AND query of known terms on the distributed plan: the
    did-you-mean probe finds every term in the index without a job, so
    the query is the envelope's one job."""
    from uci_searchengine_spark.operators.local_search import vocab_local
    from uci_searchengine_spark.operators.serving import Searcher

    v = vocab_local(index_small)
    rare = [t for t in v[v["df"] == 1]["term"] if t.isalpha()]
    q = next(
        f"{a} {b}" for a in rare for b in rare
        if a < b and not oracle_small.top_k_and(f"{a} {b}", 1)
    )
    s = Searcher(spark, index_small, query_cache=0)
    sc = spark.sparkContext
    sc.setJobGroup("dym-known-terms", "zero-hit known-term query")
    try:
        env = s.search(q, mode="and", plan="spark")
    finally:
        sc.setJobGroup(None, None)
    assert s.last_plan == "spark"
    assert env["total_results"] == 0
    assert env["did_you_mean"] is None
    assert len(sc.statusTracker().getJobIdsForGroup("dym-known-terms")) == 1


def test_footer_memo_under_concurrent_callers(tmp_path, monkeypatch, fresh_memo):
    """More threads than cores over more files than the memo holds, and
    a byte bound below one file's chunks: both bounds hold and every
    caller gets its own file's footer and rows."""
    import sys
    import threading

    monkeypatch.setattr(index_build, "FOOTER_MEMO_ENTRIES", 3)
    paths, want = [], []
    for i in range(6):
        p = str(tmp_path / f"f{i}.parquet")
        want.append(_rg_file(p, 1000 * i, groups=i % 3 + 2))
        paths.append(p)
    bound, memo = _bound_below_one_file(monkeypatch, fresh_memo, paths[-1], 3)
    wrong = []

    def hammer(seed):
        for j in range(300):
            i = (seed + j) % len(paths)
            ft = index_build.footer(paths[i])
            rgs = list(range(ft.metadata.num_row_groups))[j % 2:]
            t = ft.read(rgs, ["y", "x"] if j % 3 else ["x"])
            if (
                ft.metadata.num_rows != len(want[i])
                or t["x"].to_pylist() != want[i][10 * rgs[0]:]
                or "y" in t.column_names
                and t["y"].to_pylist() != [str(x) * 3 for x in want[i][10 * rgs[0]:]]
            ):
                wrong.append(i)
            with memo.lock:
                if memo.nbytes > bound or memo.files > 3:
                    wrong.append("bound")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert memo.files <= 3
    assert 0 < memo.nbytes <= bound
