#!/usr/bin/env python3
"""Record the expected outputs of the query workloads, cross-checked against
the DuckDB oracles.

    python3 perfbench/oracle_check.py            # compare only
    python3 perfbench/oracle_check.py --write    # also rewrite expected.json

For every operation of every query workload this runs the operation on the
generated fixture, computes ``(rows, digest)`` exactly as the benchmark's
warm-up pass does, and, where ``registry.ORACLES`` has a DuckDB twin,
compares the Spark rows with the DuckDB rows after the pandas
canonicalisation of tests/test_parity.py. It also runs each operation twice, so a
digest that is not reproducible is reported rather than committed. Run it
after a change to the fixture generator or to an operation's semantics.
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import fixture  # noqa: E402
from run import EXPECTED, host_settings, spark_conf  # noqa: E402
from workloads import WORKLOADS, QueryWorkload, output_digest, reset_dir  # noqa: E402


def _norm(v):
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", repr([_norm(x) for x in v]))
    if not isinstance(v, (str, bytes, bytearray)) and pd.isna(v):
        return None
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else ("f", repr(f + 0.0))
    if isinstance(v, (np.bool_, bool)):
        return ("b", bool(v))
    if isinstance(v, (np.integer, int)):
        return ("i", int(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time(0, 0):
            return ("d", v.date().isoformat())
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    return ("s", v)


def canon(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(r[c]) for c in cols) for r in pdf.to_dict("records")]
    return cols, sorted(rows, key=repr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite expected.json")
    args = ap.parse_args()

    import duckdb

    from databricks_sales_etl_pipeline_spark import registry
    from databricks_sales_etl_pipeline_spark.catalog import TABLES, ensure_runtime_conf
    from databricks_sales_etl_pipeline_spark.session import get_spark

    work = reset_dir(os.path.join(HERE, ".work", f"oracle-{os.getpid()}"))
    host_settings(work)
    spark = get_spark("perfbench-oracle", **spark_conf(work, traced=False))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_runtime_conf(spark)
    registry.load_all()

    expected: dict[str, dict] = {}
    problems: list[str] = []
    for wl in WORKLOADS.values():
        if not isinstance(wl, QueryWorkload):
            continue
        sf_dir = fixture.ensure(os.path.join(HERE, ".cache"), wl.sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        got = expected.setdefault(f"sf{wl.sf}", {})
        for op in wl.ops:
            first = output_digest(registry.QUERIES[op](spark, sf_dir))
            again = output_digest(registry.QUERIES[op](spark, sf_dir))
            verdict = "no oracle"
            if first != again:
                problems.append(f"{op}: digest not reproducible {first} vs {again}")
                verdict = "NOT REPRODUCIBLE"
            if op in registry.ORACLES:
                s_cols, s_rows = canon(registry.QUERIES[op](spark, sf_dir).toPandas())
                d_cols, d_rows = canon(con.execute(registry.ORACLES[op]).df())
                if (s_cols, s_rows) == (d_cols, d_rows):
                    verdict = "oracle match"
                else:
                    problems.append(f"{op}: Spark and DuckDB outputs differ")
                    verdict = "ORACLE MISMATCH"
            got[op] = first
            print(f"sf{wl.sf} {op:28s} {first} {verdict}", flush=True)
        con.close()
    spark.stop()
    shutil.rmtree(os.path.join(HERE, ".work"), ignore_errors=True)
    for p in problems:
        print("PROBLEM", p)
    if args.write and not problems:
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=2, sort_keys=True)
            f.write("\n")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
