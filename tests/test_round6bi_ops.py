"""Round-6 sixty-fourth wave: Mann-Kendall trend test."""

from __future__ import annotations

import math
import os
from collections import Counter
from itertools import combinations

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestMannKendall:
    def test_matches_python_statistic(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE),
                       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        xs = [int(x) for _, x in rows]
        n = len(xs)
        s = 0
        for a, b in combinations(xs, 2):
            s += 1 if b > a else (-1 if b < a else 0)
        tie_term = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(xs).values()
            if t > 1
        )
        var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18
        if s > 0:
            z = (s - 1) / math.sqrt(var)
        elif s < 0:
            z = (s + 1) / math.sqrt(var)
        else:
            z = 0.0
        r = QUERIES["ext_mann_kendall"](spark, SF_DIR).collect()[0]
        assert (r["s_stat"], r["n"], r["tie_term"]) == (s, n, tie_term)
        assert math.isclose(r["z_value"], z, rel_tol=1e-12)
        assert r["trend_detected"] == (1 if abs(z) > 1.96 else 0)
        # |S| is bounded by the pair count
        assert abs(s) <= n * (n - 1) // 2
