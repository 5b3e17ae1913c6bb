"""Regenerate the pinned PQ gate codebooks (operators/pq_gate_books.py).

The pq_ann gate is cross-engine (Spark vs DuckDB), so its codebooks
must be a FIXED literal parameter both sides share — the k-means
TRAINING loop itself stays pytest-pinned (tests/test_pq.py). This
script runs the real trainer (similarity.pq_codebooks, m=8/k=16,
deterministic hash-ordered sample) on the gate corpus once and dumps
the result as a Python literal. Gate correctness does NOT depend on
the corpus staying fixed — both engines encode/score with the same
literals — so regeneration is only needed to keep the books
REPRESENTATIVE of the data, never for the gate to pass."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from uci_searchengine_spark.session import get_spark  # noqa: E402
from uci_searchengine_spark.operators.similarity import pq_codebooks  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main():
    spark = get_spark()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_codebooks(emb, m=8, k=16)
    m, k, dsub = books.shape
    with open(
        os.path.join(ROOT, "uci_searchengine_spark", "operators", "pq_gate_books.py"),
        "w",
    ) as f:
        f.write(
            '"""Pinned PQ codebooks for the cross-engine pq_ann gate.\n\n'
            "Generated by scripts/gen_pq_gate_books.py (k-means via\n"
            "similarity.pq_codebooks on the gate corpus); a FIXED literal\n"
            "parameter shared by the Spark query and its DuckDB oracle —\n"
            "see the gate docstring for why training is pinned in pytest\n"
            'instead. Shape (m, k, dsub) = (%d, %d, %d)."""\n\n' % (m, k, dsub)
        )
        f.write("PQ_GATE_BOOKS = [\n")
        for j in range(m):
            f.write("    [\n")
            for c in range(k):
                vals = ", ".join(repr(float(x)) for x in books[j, c])
                f.write(f"        [{vals}],\n")
            f.write("    ],\n")
        f.write("]\n")
    spark.stop()
    print("wrote", m, k, dsub)


if __name__ == "__main__":
    main()
