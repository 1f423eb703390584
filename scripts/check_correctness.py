"""Local stand-in for the driver's correctness gate: run every queries()
entry in Spark AND its oracle_sql() in DuckDB at sf=0.01, compare
(row-count, schema width, sorted values). Usage:

    python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from unsupervised_ner_spark.session import get_spark  # noqa: E402

# DuckDB's default memory limit is 80% of RAM; on a shared 16 GB host one
# oracle that re-inlines a multi-referenced CTE can take all of it. Cap it,
# and give it a spill directory under the repo so operators that can spill
# go to disk instead. Measured with DuckDB 1.0 on 4 threads: the ER pair
# oracles (er_pair_features, er_phonetic_pairs, er_fs_patterns,
# er_fs_em_round) fail at 4GB and pass at 6GB (peak RSS ~2.2 GB).
DUCKDB_MEMORY_LIMIT = "6GB"
DUCKDB_TEMP_DIR = REPO / ".duckdb_spill"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_correctness", cores=16, shuffle_partitions=16)
    con = duckdb.connect(config={
        "memory_limit": DUCKDB_MEMORY_LIMIT,
        "temp_directory": str(DUCKDB_TEMP_DIR),
    })
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {e}")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}", flush=True)
            continue
        a, b = normalize(sdf), normalize(ddf)
        status = "ok  "
        if list(a.columns) != list(b.columns):
            status = "FAIL"
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
        elif len(a) != len(b):
            status = "FAIL"
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
        elif not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            status = "FAIL"
            print(f"FAIL {name}: {int(bad.sum())} differing rows, e.g.")
            print(pd.concat([a[bad].head(3), b[bad].head(3)]))
        if status == "FAIL":
            failures.append(name)
        else:
            print(f"ok   {name}: rows={len(a)} match [{time.time()-t0:.1f}s]", flush=True)
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
