"""Round-6 hundred-fourth wave: Friedman blocked rank test."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import FRIED_K

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestFriedmanTest:
    def test_matches_python_reference(self, spark):
        rev = duckdb.sql(
            f"""SELECT n.n_name, p.p_brand,
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        cells = {(b, br): int(r) for b, br, r in rev}
        brand_tot = defaultdict(int)
        for (_, br), r in cells.items():
            brand_tot[br] += r
        top = [
            br
            for _, br in sorted(
                (-t, br) for br, t in brand_tot.items()
            )[:FRIED_K]
        ]
        blocks = sorted({b for b, _ in cells})
        rank_sum = defaultdict(int)
        for b in blocks:
            order = sorted(
                top, key=lambda br: (-cells.get((b, br), 0), br)
            )
            for rk, br in enumerate(order, 1):
                rank_sum[br] += rk
        n = len(blocks)
        sr2 = sum(v * v for v in rank_sum.values())
        q = (
            12000 * sr2 // (n * FRIED_K * (FRIED_K + 1))
            - 3 * n * (FRIED_K + 1) * 1000
        )
        got = {
            r["brand"]: (r["rank_sum"], r["n_blocks"], r["q_milli"])
            for r in QUERIES["ext_friedman_test"](spark, SF_DIR).collect()
        }
        assert got == {br: (rank_sum[br], n, q) for br in top}

    def test_rank_sums_partition_total(self, spark):
        rows = QUERIES["ext_friedman_test"](spark, SF_DIR).collect()
        n = rows[0]["n_blocks"]
        assert sum(r["rank_sum"] for r in rows) == n * FRIED_K * (
            FRIED_K + 1
        ) // 2
        assert rows[0]["q_milli"] >= -1000  # Q >= 0 up to milli flooring
