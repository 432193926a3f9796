"""Round-6 hundred-thirteenth wave: activity-selection greedy."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.scanops import ACT_N

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestActivitySelection:
    def _intervals(self):
        rows = duckdb.sql(
            f"""SELECT l_suppkey,
                       CAST(datediff('day', DATE '1970-01-01',
                                     CAST(l_shipdate AS DATE)) AS BIGINT),
                       CAST(l_quantity AS BIGINT),
                       l_orderkey, l_linenumber
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        per = defaultdict(list)
        for sk, d, q, ok, ln in rows:
            per[int(sk)].append(
                (int(d) + int(q) // 10 + 1, int(d), int(ok), int(ln))
            )
        top = sorted(per, key=lambda s: (-len(per[s]), s))[:ACT_N]
        return {s: per[s] for s in top}

    def test_matches_python_greedy(self, spark):
        per = self._intervals()
        expect = {}
        for sk, ivs in per.items():
            last = -1
            picked = 0
            for en, st, _, _ in sorted(ivs):
                if st >= last:
                    last = en
                    picked += 1
            expect[sk] = (len(ivs), picked, picked * 10**6 // len(ivs))
        got = {
            r["supplier"]: (
                r["n_windows"], r["max_nonoverlap"], r["utilization_ppm"]
            )
            for r in QUERIES["ext_activity_selection"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_greedy_is_feasible_and_nontrivial(self, spark):
        rows = QUERIES["ext_activity_selection"](spark, SF_DIR).collect()
        assert len(rows) == ACT_N
        for r in rows:
            assert 1 <= r["max_nonoverlap"] < r["n_windows"]
