"""Round-6 hundred-fifth wave: Cochran's Q blocked binary test."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import COCHRAN_K

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestCochranQ:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT n.n_name, p.p_brand,
                       CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/orders.parquet' o
                  ON o.o_orderkey = l.l_orderkey
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        maxyr = max(int(y) for _, _, y in rows)
        cnt = defaultdict(int)
        for _, b, _ in rows:
            cnt[b] += 1
        top = [
            b for _, b in sorted((-c, b) for b, c in cnt.items())
        ][:COCHRAN_K]
        blocks = sorted({n for n, _, _ in rows})
        bought = {
            (n, b) for n, b, y in rows if int(y) == maxyr and b in top
        }
        c_j = {b: sum(1 for n in blocks if (n, b) in bought) for b in top}
        r_i = {n: sum(1 for b in top if (n, b) in bought) for n in blocks}
        s = sum(c_j.values())
        num_k2 = sum(
            (COCHRAN_K * v - s) ** 2 for v in c_j.values()
        )
        sr2 = sum(v * v for v in r_i.values())
        denom = max(COCHRAN_K * (COCHRAN_K * s - sr2), 1)
        q = (COCHRAN_K - 1) * num_k2 * 1000 // denom
        got = {
            r["brand"]: (r["times_bought"], r["total_buys"], r["q_milli"])
            for r in QUERIES["ext_cochran_q"](spark, SF_DIR).collect()
        }
        assert got == {b: (c_j[b], s, q) for b in top}

    def test_q_nonnegative(self, spark):
        rows = QUERIES["ext_cochran_q"](spark, SF_DIR).collect()
        assert len(rows) == COCHRAN_K
        assert all(r["q_milli"] >= 0 for r in rows)
