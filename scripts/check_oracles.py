"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from uci_searchengine_spark.schema import TESTDATA_TABLES  # noqa: E402
from uci_searchengine_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR")
if not SF_DIR:
    sys.exit(
        "usage: python scripts/check_oracles.py SF_DIR [name,name,...] "
        "(or set SPARK_GRAFT_SF_DIR)"
    )
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def canon(v):
    # Must distinguish float 180.0 from int 180: the driver's hash does
    # (DuckDB HUGEINT -> pandas float64 made pack_sequences hash-mismatch
    # in rounds 2-3 while this replica's old "%.9g" silently passed it).
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        s = f"{v:.9g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    spark = get_spark()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            h1, h2 = table_hash(srows, scols), table_hash(orows, ocols)
            if h1 != h2:
                problems.append("value-hash mismatch")
                # show a diff sample
                s_set = set("|".join(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
                o_set = set("|".join(canon(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows)
                print("  spark-only:", list(s_set - o_set)[:3])
                print("  duck-only :", list(o_set - s_set)[:3])
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
