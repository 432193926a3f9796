"""Fast driver-faithful parity check for a subset of queries.

Usage: PYTHONPATH=. python tools/quick_parity.py name1 name2 ...
       (no names = every registered oracle)

Runs the SAME pandas-canonicalized comparison as tests/test_parity.py
(it imports that test's ``_canon``), at SF_DIR (env QP_SF_DIR, default
sf0.001), in one process — for iterating on new operators without the
pytest startup cost.
"""

from __future__ import annotations

import os
import sys

import duckdb

from databricks_sales_etl_pipeline_spark.catalog import TABLES
from databricks_sales_etl_pipeline_spark.session import get_spark
from tests.test_parity import _canon as canon


def main() -> int:
    sf = os.environ.get("QP_SF_DIR", "/root/testdata/sf0.001")
    import __spark_entry__ as mod

    spark = get_spark("quick-parity")
    spark.sparkContext.setLogLevel("ERROR")
    qs, os_ = mod.queries(), mod.oracle_sql()
    names = sys.argv[1:] or sorted(os_)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    fails = []
    for name in names:
        if name not in qs:
            fails.append((name, "NOT REGISTERED"))
            continue
        try:
            sc, sr = canon(qs[name](spark, sf).toPandas())
            if name not in os_:
                print(f"{name}: rows-only ({len(sr)} rows)")
                continue
            dc, dr = canon(con.execute(os_[name]).df())
            assert sc == dc, f"columns differ: spark={sc} duck={dc}"
            assert len(sr) == len(dr), f"row count {len(sr)} vs {len(dr)}"
            if sr != dr:
                diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
                raise AssertionError(f"value mismatch, first diffs: {diff}")
            print(f"{name}: OK ({len(sr)} rows)")
        except Exception as e:  # noqa: BLE001
            fails.append((name, str(e)[:400]))
    if fails:
        print("\nFAILS:")
        for n, e in fails:
            print(f"  {n}: {e}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
