"""Round-6 hundred-eleventh wave: longest increasing subsequence."""

from __future__ import annotations

import math
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestLisPatience:
    def test_matches_python_dp(self, spark):
        monthly = duckdb.sql(
            f"""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                            AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        ms = [int(m) for m, _ in monthly]
        ys = [int(y) for _, y in monthly]
        lvec = []
        for i in range(len(ys)):
            best = 0
            for j in range(i):
                if ys[j] < ys[i] and lvec[j] > best:
                    best = lvec[j]
            lvec.append(1 + best)
        lis = max(lvec)
        end = lvec.index(lis) + 1
        r = QUERIES["ext_lis_patience"](spark, SF_DIR).collect()[0]
        assert (r["n_months"], r["lis_len"]) == (len(ys), lis)
        assert (r["lis_end_rank"], r["lis_end_month"]) == (
            end, ms[end - 1]
        )

    def test_lis_between_random_and_sorted(self, spark):
        r = QUERIES["ext_lis_patience"](spark, SF_DIR).collect()[0]
        n = r["n_months"]
        # Ulam: random order gives ~2*sqrt(n); monotone gives n
        assert math.isqrt(n) <= r["lis_len"] <= n
