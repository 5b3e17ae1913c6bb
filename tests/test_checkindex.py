"""CheckIndex: clean indexes verify ok; injected corruption (inflated
df, deflated block_max) is detected and named."""

import glob
import os
import shutil

import pyarrow.parquet as pq

from uci_searchengine_spark.operators.checkindex import check_index


def test_clean_index_ok(spark, index_small):
    rep = check_index(spark, index_small)
    assert rep["ok"], rep["issues"][:5]
    assert rep["stats"]["doc_rows"] > 0 and rep["stats"]["segment_rows"] > 0


def test_positional_index_ok(spark, index_positional):
    rep = check_index(spark, index_positional)
    assert rep["ok"], rep["issues"][:5]


def test_tombstoned_index_ok(spark, index_small, tmp_path):
    from uci_searchengine_spark.operators.tombstones import delete_docs

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    delete_docs(idx, [1, 5, 9])
    rep = check_index(spark, idx)
    assert rep["ok"], rep["issues"][:5]
    assert rep["stats"]["tombstones"] == 3


def _first_seg_file(idx):
    files = sorted(
        glob.glob(os.path.join(idx, "segments", "shard=*", "*.parquet"))
    )
    assert files
    return files[0]


def test_detects_deflated_block_max(spark, index_small, tmp_path):
    import pyarrow as pa

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    fp = _first_seg_file(idx)
    t = pq.read_table(fp)
    bm = t["block_max"].to_pylist()
    bm[0] = [v * 0.5 for v in bm[0]]  # no longer an upper bound
    t = t.set_column(
        t.schema.get_field_index("block_max"),
        "block_max",
        pa.array(bm, type=t.schema.field("block_max").type),
    )
    pq.write_table(t, fp)
    rep = check_index(spark, idx)
    assert not rep["ok"]
    assert any("NOT admissible" in i["problem"] for i in rep["issues"])


def test_detects_df_mismatch(spark, index_small, tmp_path):
    import pyarrow as pa

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    fp = _first_seg_file(idx)
    t = pq.read_table(fp)
    df = t["df"].to_pylist()
    df[0] = df[0] + 7
    t = t.set_column(
        t.schema.get_field_index("df"),
        "df",
        pa.array(df, type=t.schema.field("df").type),
    )
    pq.write_table(t, fp)
    rep = check_index(spark, idx)
    assert not rep["ok"]
    assert any("df=" in i["problem"] for i in rep["issues"])


def test_detects_unsorted_doc_store(spark, index_small, tmp_path):
    """A doc-store file written out of doc_id order violates the
    footer-pruned-fetch invariant and must be flagged."""
    import pyarrow.parquet as pq

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    files = sorted(
        glob.glob(os.path.join(idx, "docs", "bucket=*", "*.parquet"))
    )
    fp = files[0]
    t = pq.read_table(fp)
    perm = list(range(t.num_rows))
    perm[0], perm[-1] = perm[-1], perm[0]  # break the order
    pq.write_table(t.take(perm), fp)
    rep = check_index(spark, idx)
    assert not rep["ok"]
    assert any("not doc_id-sorted" in i["problem"] for i in rep["issues"])


def test_checkindex_multigen_ok(spark, tmp_path):
    """Appended (multi-generation) index verifies clean — exercises the
    per-generation df_global == Σ df loop and gen_avgdl-aware block-max
    admissibility (stored bounds use each gen's OWN build avgdl)."""
    from pyspark.sql import functions as F

    from uci_searchengine_spark.operators.index_append import append_index
    from uci_searchengine_spark.operators.index_build import build_index
    from uci_searchengine_spark.sources.synth import synth_pages

    d = str(tmp_path / "idx")
    pages = synth_pages(spark, 200, 1337, partitions=4)
    urls = sorted(r["url"] for r in pages.select("url").distinct().collect())
    cut = urls[101]
    build_index(
        spark, pages.filter(F.col("url") < cut), d,
        num_shards=4, n_buckets=2, input_snapshot="ck-gen0",
    )
    append_index(
        spark, pages.filter(F.col("url") >= cut), d, input_snapshot="ck-gen1"
    )
    rep = check_index(spark, d)
    assert rep["ok"], rep["issues"][:5]
    assert rep["stats"]["generations"] == 2


def test_detects_doc_store_bucket_faults(spark, index_small, tmp_path):
    """A bucket dir holding a duplicate doc id, a doc id of another
    bucket and a null url is flagged once per fault, naming the bucket;
    the other buckets stay clean."""
    import pyarrow as pa

    idx = str(tmp_path / "idx")
    shutil.copytree(index_small, idx)
    fp = sorted(glob.glob(os.path.join(idx, "docs", "bucket=1", "*.parquet")))[0]
    t = pq.read_table(fp)
    ids = t["doc_id"].to_pylist()
    ids[1] = ids[0]  # duplicate
    ids[-1] = 0  # bucket 0's range
    urls = t["url"].to_pylist()
    urls[2] = None
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                     pa.array(ids, t.schema.field("doc_id").type))
    t = t.set_column(t.schema.get_field_index("url"), "url",
                     pa.array(urls, t.schema.field("url").type))
    pq.write_table(t, fp)
    rep = check_index(spark, idx)
    got = sorted(
        (i["where"], i["problem"]) for i in rep["issues"]
        if i["where"].startswith("docs bucket=")
    )
    assert got == [
        ("docs bucket=1", "doc id outside bucket dir range"),
        ("docs bucket=1", "duplicate doc ids"),
        ("docs bucket=1", "null url"),
    ]
