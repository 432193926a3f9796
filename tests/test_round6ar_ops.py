"""Round-6 forty-seventh wave: penny allocation, inferred members, profiler."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestPennyAllocation:
    def test_reconciles_exactly_per_order(self, spark):
        out = QUERIES["ext_penny_allocation"](spark, SF_DIR).collect()
        alloc = defaultdict(int)
        lc_tot = defaultdict(int)
        for r in out:
            alloc[r["ok"]] += r["alloc_cents"]
            lc_tot[r["ok"]] += r["lc"]
        # sum of line allocations == header freight (total DIV 20), exactly
        for ok, total in lc_tot.items():
            assert alloc[ok] == total // 20, ok

    def test_proportionality_within_one_penny(self, spark):
        out = QUERIES["ext_penny_allocation"](spark, SF_DIR).collect()
        lc_tot = defaultdict(int)
        for r in out:
            lc_tot[r["ok"]] += r["lc"]
        for r in out:
            total = lc_tot[r["ok"]]
            exact = (total // 20) * r["lc"] / total
            assert abs(r["alloc_cents"] - exact) <= 1


class TestInferredMembers:
    def test_every_fact_key_resolves(self, spark):
        dim = QUERIES["ext_inferred_members"](spark, SF_DIR).collect()
        keys = {r["c_custkey"] for r in dim}
        fact_keys = {
            k
            for (k,) in duckdb.sql(
                f"SELECT DISTINCT o_custkey FROM '{SF_DIR}/orders.parquet'"
            ).fetchall()
        }
        assert fact_keys <= keys  # zero orphans after patching
        inferred = {r["c_custkey"] for r in dim if r["inferred"] == 1}
        building_with_orders = {
            k
            for (k,) in duckdb.sql(
                f"""SELECT DISTINCT o.o_custkey
                    FROM '{SF_DIR}/orders.parquet' o
                    JOIN '{SF_DIR}/customer.parquet' c
                      ON c.c_custkey = o.o_custkey
                    WHERE c.c_mktsegment = 'BUILDING'"""
            ).fetchall()
        }
        assert inferred == building_with_orders
        for r in dim:
            if r["inferred"] == 1:
                assert r["c_name"] == f"INFERRED-{r['c_custkey']}"
                assert r["c_mktsegment"] == "UNKNOWN"
        assert inferred  # held-back segment customers DO order


class TestProfileTable:
    def test_matches_duckdb_profile(self, spark):
        out = {
            r["column_name"]: r
            for r in QUERIES["dq_profile_table"](spark, SF_DIR).collect()
        }
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'"
        ).fetchone()[0]
        checks = {
            "o_orderkey": "o_orderkey",
            "o_orderstatus": "o_orderstatus",
            "o_totalprice_cents": (
                "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
            ),
            "o_orderdate": "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
        }
        for col, expr in checks.items():
            nd, mn, mx = duckdb.sql(
                f"""SELECT COUNT(DISTINCT {expr}),
                           CAST(MIN({expr}) AS VARCHAR),
                           CAST(MAX({expr}) AS VARCHAR)
                    FROM '{SF_DIR}/orders.parquet'"""
            ).fetchone()
            r = out[col]
            assert r["n_rows"] == n
            assert r["n_null"] == 0
            assert r["n_distinct"] == nd
            assert (r["min_value"], r["max_value"]) == (mn, mx)
        assert len(out) == 6
