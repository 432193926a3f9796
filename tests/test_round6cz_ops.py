"""Round-6 hundred-seventh wave: Banzhaf voting power."""

from __future__ import annotations

import os
from itertools import combinations

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.optstats import BZ_N

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestBanzhafPower:
    def test_matches_python_enumeration(self, spark):
        rows = duckdb.sql(
            f"""SELECT n.n_name,
                       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                     AS BIGINT)) // 100000000 AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey
                GROUP BY 1"""
        ).fetchall()
        top = sorted(((-int(w), p) for p, w in rows))[:BZ_N]
        players = [(p, -nw) for nw, p in top]
        total = sum(w for _, w in players)
        quota = total // 2 + 1
        expect = {}
        for i, (name, w) in enumerate(players):
            others = [ww for j, (_, ww) in enumerate(players) if j != i]
            swings = 0
            for m in range(2 ** (BZ_N - 1)):
                sw = sum(
                    ww
                    for b, ww in enumerate(others)
                    if (m >> b) % 2 == 1
                )
                if sw < quota <= sw + w:
                    swings += 1
            expect[name] = (
                w, quota, swings, swings * 10**6 // 2 ** (BZ_N - 1)
            )
        got = {
            r["player"]: (
                r["weight_mcents"], r["quota"], r["swings"],
                r["banzhaf_ppm"],
            )
            for r in QUERIES["ext_banzhaf_power"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_power_tracks_weight_weakly(self, spark):
        rows = sorted(
            QUERIES["ext_banzhaf_power"](spark, SF_DIR).collect(),
            key=lambda r: -r["weight_mcents"],
        )
        swings = [r["swings"] for r in rows]
        # monotone: more weight never means fewer swings
        assert swings == sorted(swings, reverse=True)
        assert all(0 < r["banzhaf_ppm"] <= 10**6 for r in rows)


from databricks_sales_etl_pipeline_spark.extensions.optstats import (  # noqa: E402
    SS_FACT_N,
    SS_WEIGHTS,
)


class TestShapleyShubik:
    def test_pivotal_orderings_sum_to_n_factorial(self, spark):
        rows = QUERIES["ext_shapley_shubik"](spark, SF_DIR).collect()
        assert len(rows) == BZ_N
        assert sum(r["pivotal_orderings"] for r in rows) == SS_FACT_N

    def test_matches_python_enumeration(self, spark):
        rows = duckdb.sql(
            f"""SELECT n.n_name,
                       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                     AS BIGINT)) // 100000000 AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                JOIN '{SF_DIR}/nation.parquet' n
                  ON n.n_nationkey = c.c_nationkey
                GROUP BY 1"""
        ).fetchall()
        top = sorted(((-int(w), p) for p, w in rows))[:BZ_N]
        players = [(p, -nw) for nw, p in top]
        quota = sum(w for _, w in players) // 2 + 1
        expect = {}
        for i, (name, w) in enumerate(players):
            others = [ww for j, (_, ww) in enumerate(players) if j != i]
            piv = 0
            for m in range(2 ** (BZ_N - 1)):
                sw = s = 0
                for b, ww in enumerate(others):
                    if (m >> b) % 2 == 1:
                        sw += ww
                        s += 1
                if sw < quota <= sw + w:
                    piv += SS_WEIGHTS[s]
            expect[name] = (piv, piv * 10**6 // SS_FACT_N)
        got = {
            r["player"]: (r["pivotal_orderings"], r["shapley_shubik_ppm"])
            for r in QUERIES["ext_shapley_shubik"](spark, SF_DIR).collect()
        }
        assert got == expect
