"""Verification drive: public-API end-to-end (synth → build → query)."""
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from uci_searchengine_spark.session import get_spark
from uci_searchengine_spark.sources.synth import synth_pages
from uci_searchengine_spark.operators.index_build import build_index, build_metrics
from uci_searchengine_spark.operators.bm25 import search, score_naive
from uci_searchengine_spark.operators.wand import score_wand

IDX = os.path.join(ROOT, "_data", "verify_index")
shutil.rmtree(IDX, ignore_errors=True)

spark = get_spark(master="local[4]", shuffle_partitions=8)
pages = synth_pages(spark, 200, seed=1337, partitions=5)
t0 = time.time()
meta = build_index(spark, pages, IDX, num_shards=4, n_buckets=4,
                   input_snapshot="synth:seed=1337:n=200")
print(f"BUILD ok in {time.time()-t0:.1f}s meta={meta.to_json()}")
print("METRICS", json.dumps(build_metrics(IDX)))

env = search(spark, IDX, "stop0 arbak", page=1, per_page=3)
print("ENVELOPE", json.dumps(env, indent=1)[:900])

# probe: empty/punct-only query
print("EMPTY", json.dumps(search(spark, IDX, "!!! ...")))
# probe: absent term
print("ABSENT", json.dumps(search(spark, IDX, "qqqqzzzz")))
# probe: wand vs naive agreement on a fresh query
n = [(r["doc_id"], round(r["score"], 9)) for r in score_naive(spark, IDX, "stop3 arbast", 5).collect()]
w = [(r["doc_id"], round(r["score"], 9)) for r in score_wand(spark, IDX, "stop3 arbast", 5).collect()]
print("NAIVE", n)
print("WAND ", w)
print("AGREE", n == w)

# probe: round-3 query surfaces on the same index
from uci_searchengine_spark.operators.serving import Searcher  # noqa: E402

s = Searcher(spark, IDX)
wc = s.search("arb* stop1", per_page=3)
print("WILDCARD hits", wc["total_results"])
host = wc["results"][0]["url"].split("/")[2] if wc["results"] else None
if host:
    st = s.search(f"stop0 site:{host}", per_page=3)
    print(f"SITE({host}) hits", st["total_results"], "plan", s.last_plan)
from uci_searchengine_spark.operators.docvalues import attach_doc_values

attach_doc_values(
    spark,
    IDX,
    spark.range(s.meta.n_docs).selectExpr(
        "id AS doc_id", "(id % 100) / cast(100 AS DOUBLE) AS value"
    ),
    "rank",
)
rg = s.search("stop0 rank:[0.25 TO 0.75]", per_page=3)
rg2 = s.search("stop0 rank:[0.25 TO 0.75]", per_page=3, plan="spark")
print(
    "RANGE hits", rg["total_results"], "plan-equal", rg == rg2
)
sim = s.similar(0, k=3)
print("SIMILAR(0)", [r["url"] for r in sim["results"]])
exp = s.explain("stop0 arbak", 0)
print("EXPLAIN(0)", {"score": round(exp["score"], 6), "terms": len(exp["terms"])})
print("TERMS", s.term_stats("arb", 3))
bg = [
    (r["doc_id"], round(r["score"], 6))
    for r in __import__(
        "uci_searchengine_spark.operators.boolean", fromlist=["boolean_search"]
    ).boolean_search(spark, IDX, "(arbak|arband) +stop0", k=3).collect()
]
print("BOOLEAN-GROUP", bg)
# probe: round-4 query surfaces
fz = s.search("arbak~1 stop1", per_page=3)
print("FUZZY hits", fz["total_results"], "plan", s.last_plan)
rx = s.search("/arba[kl]/ stop1", per_page=3)
print("REGEX hits", rx["total_results"])
from uci_searchengine_spark.operators.wand import score_msm  # noqa: E402

msm = [
    (r["doc_id"], round(r["score"], 6))
    for r in score_msm(spark, IDX, "stop0 arbak stop1", 3, 2).collect()
]
print("MSM(2-of-3)", msm)
sa = s.search_after_envelope("stop0 arbak", None, per_page=3)
print("SEARCH_AFTER page1", len(sa["results"]), "cursor", sa["next_cursor"])
nr = [
    (r["doc_id"], r["n_occ"])
    for r in __import__(
        "uci_searchengine_spark.operators.phrase", fromlist=["phrase_search"]
    ).phrase_search(spark, IDX, "stop0 stop1", 3, slop=2).collect()
]
print("NEAR(slop=2)", nr)
syn = [
    (r["doc_id"], round(r["score"], 6))
    for r in __import__(
        "uci_searchengine_spark.operators.boolean", fromlist=["boolean_search"]
    ).boolean_search(
        spark, IDX, "+stop0 arbak", k=3, synonyms={"stop0": ["stop1"]}
    ).collect()
]
print("SYNONYM", syn)
from uci_searchengine_spark.operators.rescore import rescore_phrase  # noqa: E402

rs = [
    (r["doc_id"], r["n_occ"])
    for r in rescore_phrase(
        spark, IDX, "stop0 arbak", "stop0 stop1", k=3, window=30,
        rescore_weight=5.0,
    ).collect()
]
print("RESCORE", rs)
print("COUNT", s.count("stop0 arbak")["count"])
tv = s.term_vectors(0)
print("TERMVECTORS(0)", tv["doc_len"], len(tv["terms"]))
from uci_searchengine_spark.operators.checkindex import check_index  # noqa: E402

rep = check_index(spark, IDX)
print("CHECKINDEX ok", rep["ok"], rep["stats"])

# probe: sketches + federation (round-4 additions)
from pyspark.sql import functions as F  # noqa: E402

from uci_searchengine_spark.operators.sketches import hll_distinct  # noqa: E402

hh = hll_distinct(
    pages.select(F.col("url")), F.col("url"), p=8
).collect()[0]
print("HLL urls est", hh["n_est"], "exact", pages.count())
from uci_searchengine_spark.operators.federate import federated_topk  # noqa: E402

fed = [
    (r["index_id"], r["doc_id"], round(r["score"], 6))
    for r in federated_topk(spark, [IDX], "stop0 arbak", k=3).collect()
]
print("FEDERATED(single-member)", fed)

# probe: final-session surfaces — trigram infix wildcard, dis_max
# fields, MaxSim late interaction, span corruption
from uci_searchengine_spark.operators.trigram import (  # noqa: E402
    expand_infix,
    wildcard_search,
    write_trigram_plane,
)

write_trigram_plane(spark, IDX)
print("TRIGRAM exp(*rba*)", expand_infix(spark, IDX, "*rba*")[:3])
tw = wildcard_search(spark, IDX, "*rba* stop0", k=3).collect()
print("TRIGRAM-SEARCH", [(r["doc_id"], round(r["score"], 6)) for r in tw])
from uci_searchengine_spark.operators.multifield import (  # noqa: E402
    score_fields,
)

dm = score_fields(
    spark, IDX, "stop0 arbak", variant="dis_max", tie_breaker=0.3, k=3
).collect()
print("DISMAX", [(r["doc_id"], round(r["score"], 6)) for r in dm])
from uci_searchengine_spark.operators.denoise import (  # noqa: E402
    denoiser_prep,
)

dn = denoiser_prep(
    pages.select(
        "url", F.split(F.col("html").cast("string"), " ").alias("t")
    ).limit(3),
    id_col="url",
).collect()
print("SPANCORRUPT", [(r["n_spans"], r["n_masked"]) for r in dn])

# probe: resume — rerun build on same dir/snapshot, expect all partitions skipped
t0 = time.time()
build_index(spark, pages, IDX, num_shards=4, n_buckets=4,
            input_snapshot="synth:seed=1337:n=200")
print(f"RESUME rerun in {time.time()-t0:.1f}s (should skip committed partitions)")
spark.stop()
