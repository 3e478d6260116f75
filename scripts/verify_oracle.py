#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run every queries() entry
and compare against oracle_sql() via DuckDB (row count, column names,
order-insensitive values).

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession


def canon(rows) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, 9))
            elif hasattr(v, "timestamp"):  # datetime
                vals.append(v.isoformat())
            elif isinstance(v, list):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            got = canon([tuple(r[c] for c in cols) for r in df.collect()])
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols_raw = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        ocols = sorted(ocols_raw)
        idx = [ocols_raw.index(c) for c in ocols]
        want = canon([tuple(r[i] for i in idx) for r in orows])
        if cols != ocols:
            print(f"FAIL {name}: columns {cols} != oracle {ocols}")
            n_fail += 1
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != oracle {len(want)}")
            n_fail += 1
        elif got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(got)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
