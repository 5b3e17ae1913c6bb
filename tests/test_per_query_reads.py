"""What a query reads besides its postings: parquet footers come from the
per-process memo (index_build.footer), the driver's tombstone array is
re-read only when a tombstone file changes, a Searcher analyzes its
Spark relations only when a relational surface needs them, and the
did-you-mean membership probe runs no Spark job."""

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
    assert index_build.footer(p).metadata.num_rows == 3
    assert footer_reads.count(p) == 1
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), p)  # same path
    assert index_build.footer(p).metadata.num_rows == 5
    assert footer_reads.count(p) == 2
    # replaced by rename (a new inode), same row count
    pq.write_table(pa.table({"x": [7, 8, 9, 10, 11]}), p + ".tmp")
    shutil.move(p + ".tmp", p)
    ft = index_build.footer(p)
    assert footer_reads.count(p) == 3
    assert ft.ranges("x") == [(7, 11)]
    assert ft.read([0], ["x"])["x"].to_pylist() == [7, 8, 9, 10, 11]


def test_footer_memo_is_bounded(tmp_path, monkeypatch):
    monkeypatch.setattr(index_build, "FOOTER_MEMO_ENTRIES", 3)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"x": [i]}), p)
        index_build.footer(p)
        paths.append(p)
    assert len(index_build._footers) <= 3
    assert paths[-1] in index_build._footers
    assert paths[0] not in index_build._footers


@pytest.mark.spark
@pytest.mark.parametrize("plan", ["local", "spark"])
def test_repeated_query_reads_no_footer_on_the_driver(
    spark, index_copy, footer_reads, plan
):
    from uci_searchengine_spark.operators.serving import Searcher

    s = Searcher(spark, index_copy, query_cache=0)
    first = s.search("stop0 arbak", plan=plan)
    assert first["total_results"] > 0
    assert any(p.startswith(index_copy) for p in footer_reads)
    del footer_reads[:]
    again = s.search("stop0 arbak", plan=plan)
    assert s.last_plan == plan
    assert again == first
    assert footer_reads == []


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
    s.top_k("stop0").collect()
    s.top_k("arbak").collect()
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


def test_footer_memo_under_concurrent_callers(tmp_path, monkeypatch):
    """More threads than cores over more files than the memo holds: the
    bound holds and every caller gets its own file's footer."""
    import sys
    import threading

    monkeypatch.setattr(index_build, "FOOTER_MEMO_ENTRIES", 3)
    paths = []
    for i in range(6):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"x": list(range(i + 1))}), p)
        paths.append(p)
    wrong = []

    def hammer(seed):
        for j in range(300):
            i = (seed + j) % len(paths)
            if index_build.footer(paths[i]).metadata.num_rows != i + 1:
                wrong.append(i)

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
    assert len(index_build._footers) <= 3
