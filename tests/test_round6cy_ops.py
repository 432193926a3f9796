"""Round-6 hundred-sixth wave: Wilcoxon signed-rank paired test."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestWilcoxonSignedRank:
    def test_matches_python_reference(self, spark):
        cut = duckdb.sql(
            f"""SELECT (MIN(year(CAST(o_orderdate AS DATE)))
                        + MAX(year(CAST(o_orderdate AS DATE)))) // 2
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchone()[0]
        rows = duckdb.sql(
            f"""SELECT p.p_brand,
                       CASE WHEN year(CAST(o.o_orderdate AS DATE)) <= {cut}
                            THEN 1 ELSE 2 END,
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT),
                       COUNT(DISTINCT year(CAST(o.o_orderdate AS DATE))
                             * 100 + month(CAST(o.o_orderdate AS DATE)))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        half = {}
        for b, h, r, m in rows:
            half[(b, int(h))] = int(r) // int(m)
        diffs = [
            half[(b, 1)] - half[(b, 2)]
            for b in {k[0] for k in half}
            if (b, 1) in half and (b, 2) in half
        ]
        nz = [d for d in diffs if d != 0]
        srt = sorted(abs(d) for d in nz)
        first = {}
        cnt = defaultdict(int)
        for i, v in enumerate(srt, 1):
            cnt[v] += 1
            first.setdefault(v, i)
        wp = wm = 0
        for d in nz:
            d2 = 2 * (first[abs(d)] - 1) + cnt[abs(d)] + 1
            if d > 0:
                wp += d2
            else:
                wm += d2
        n = len(nz)
        r = QUERIES["ext_wilcoxon_signed_rank"](spark, SF_DIR).collect()[0]
        assert r["n_pairs"] == n
        assert (r["w_plus_doubled"], r["w_minus_doubled"]) == (wp, wm)
        assert r["expected_doubled"] == n * (n + 1) // 2
        assert r["n_positive"] == sum(1 for d in nz if d > 0)

    def test_ranks_partition(self, spark):
        r = QUERIES["ext_wilcoxon_signed_rank"](spark, SF_DIR).collect()[0]
        n = r["n_pairs"]
        # doubled W+ + W- must equal 2 * n(n+1)/2 exactly
        assert r["w_plus_doubled"] + r["w_minus_doubled"] == n * (n + 1)
