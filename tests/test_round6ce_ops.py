"""Round-6 eighty-sixth wave: revenue recognition, EOQ policy."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    EOQ_HOLD_PCT,
    EOQ_ORDER_COST_CENTS,
)
from databricks_sales_etl_pipeline_spark.extensions.warehouse import (
    REV_MONTHS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestRevRecognition:
    def test_matches_python_schedule(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(year(o_orderdate) * 12
                            + (month(o_orderdate) - 1) AS BIGINT),
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        rec = defaultdict(lambda: [0, 0])
        for m0, v in rows:
            m0, v = int(m0), int(v)
            base, r = v // REV_MONTHS, v % REV_MONTHS
            for i in range(REV_MONTHS):
                idx = m0 + i
                ym = (idx // 12) * 100 + idx % 12 + 1
                rec[ym][0] += base + (1 if i < r else 0)
                rec[ym][1] += 1
        got = {
            r["ym"]: (r["recognized_cents"], r["n_order_months"])
            for r in QUERIES["ext_rev_recognition"](spark, SF_DIR).collect()
        }
        assert got == {k: tuple(v) for k, v in rec.items()}

    def test_total_conserved_to_the_cent(self, spark):
        rows = QUERIES["ext_rev_recognition"](spark, SF_DIR).collect()
        total = duckdb.sql(
            f"""SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                      AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchone()[0]
        assert sum(r["recognized_cents"] for r in rows) == total


class TestEoqPolicy:
    def test_matches_python_formula(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand,
                       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT),
                       COUNT(DISTINCT year(CAST(l.l_shipdate AS DATE)))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey
                GROUP BY 1"""
        ).fetchall()
        expect = {}
        for brand, units, sales, n_years in rows:
            annual = int(units) // int(n_years)
            price = int(sales) // int(units)
            hold = max(price * EOQ_HOLD_PCT // 100, 1)
            x = 2 * annual * EOQ_ORDER_COST_CENTS // hold
            eoq = math.isqrt(x)
            expect[brand] = (
                annual, price, hold, eoq, annual // max(eoq, 1)
            )
        got = {
            r["brand"]: (
                r["annual_units"], r["unit_price_cents"], r["hold_cents"],
                r["eoq_units"], r["orders_per_year"],
            )
            for r in QUERIES["ext_eoq_policy"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_isqrt_exact(self, spark):
        for r in QUERIES["ext_eoq_policy"](spark, SF_DIR).collect():
            x = (
                2 * r["annual_units"] * EOQ_ORDER_COST_CENTS
                // r["hold_cents"]
            )
            s = r["eoq_units"]
            assert s * s <= x < (s + 1) * (s + 1)
