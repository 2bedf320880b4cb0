"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema + order-insensitive value hash.

Every ``ok`` line carries the Spark value hash (rows-only queries
included), so two runs over different trees diff line for line once the
trailing ``[N.Ns]`` timings are stripped:
``sed 's/ \[[0-9.]*s\]$//' run.txt``.

Usage: python tools/check_oracles.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, columns):
    cols = sorted(columns)
    lines = sorted(
        "|".join(repr(row[c]) for c in cols) for row in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        hs = value_hash(srows, scols)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows) "
                  f"hash {hs} [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name])
            ocols = [d[0] for d in odf.description]
            orows = [dict(zip(ocols, row)) for row in odf.fetchall()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            ho = value_hash(orows, ocols)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            sset = {tuple(sorted(r.items())) for r in srows}
            oset = {tuple(sorted(r.items())) for r in orows}
            for x in list(sset - oset)[:3]:
                print(f"   spark-only: {x}")
            for x in list(oset - sset)[:3]:
                print(f"   oracle-only: {x}")
        else:
            print(f"ok   {name}: {len(srows)} rows match hash {hs} "
                  f"[{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
