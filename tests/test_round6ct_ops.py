"""Round-6 hundred-first wave: Xbar-R chart, Nelson run rules."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    NELSON_R2,
    NELSON_R3,
    XBAR_A2_MILLI,
    XBAR_D4_MILLI,
    XBAR_N,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestXbarRChart:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'
                ORDER BY 1, 2"""
        ).fetchall()
        per = defaultdict(list)
        for d, k, v in rows:
            if len(per[int(d)]) < XBAR_N:
                per[int(d)].append(int(v))
        grp = {
            d: (sum(vs) * 1000 // XBAR_N, (max(vs) - min(vs)) * 1000)
            for d, vs in per.items()
            if len(vs) == XBAR_N
        }
        center = sum(x for x, _ in grp.values()) // len(grp)
        rbar = sum(r for _, r in grp.values()) // len(grp)
        ucl_x = center + XBAR_A2_MILLI * rbar // 1000
        lcl_x = center - XBAR_A2_MILLI * rbar // 1000
        ucl_r = XBAR_D4_MILLI * rbar // 1000
        got = {
            r["d"]: r
            for r in QUERIES["ext_xbar_r_chart"](spark, SF_DIR).collect()
        }
        assert set(got) == set(grp)
        for d, (x, rr) in grp.items():
            r = got[d]
            assert (r["xbar_milli"], r["r_milli"]) == (x, rr)
            assert (r["center"], r["rbar"]) == (center, rbar)
            assert (r["ucl_x"], r["lcl_x"], r["ucl_r"]) == (
                ucl_x, lcl_x, ucl_r
            )
            assert r["x_signal"] == (x > ucl_x or x < lcl_x)
            assert r["r_signal"] == (rr > ucl_r)

    def test_limits_contain_most_points(self, spark):
        rows = QUERIES["ext_xbar_r_chart"](spark, SF_DIR).collect()
        n = len(rows)
        assert sum(1 for r in rows if r["x_signal"]) < n // 10
        assert sum(1 for r in rows if r["r_signal"]) < n // 10


class TestNelsonRules:
    def test_matches_python_reference(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        ds = [int(d) for d, _ in daily]
        vs = [int(v) for _, v in daily]
        n = len(vs)
        center = sum(vs) * 1000 // n
        sides = [
            1 if v * 1000 > center else -1 if v * 1000 < center else 0
            for v in vs
        ]
        dirs = [0] + [
            1 if b > a else -1 if b < a else 0
            for a, b in zip(vs, vs[1:])
        ]
        r2 = r3 = 0
        f2 = f3 = 0
        for i in range(n):
            w2 = sides[max(0, i - NELSON_R2 + 1) : i + 1]
            if w2.count(1) == NELSON_R2 or w2.count(-1) == NELSON_R2:
                r2 += 1
                f2 = f2 or ds[i]
            w3 = dirs[max(0, i - NELSON_R3 + 1) : i + 1]
            if w3.count(1) == NELSON_R3 or w3.count(-1) == NELSON_R3:
                r3 += 1
                f3 = f3 or ds[i]
        r = QUERIES["ext_nelson_rules"](spark, SF_DIR).collect()[0]
        assert r["n_days"] == n
        assert (r["rule2_signals"], r["rule3_signals"]) == (r2, r3)
        assert (r["first_rule2_day"], r["first_rule3_day"]) == (f2, f3)

    def test_rules_are_rare_on_stationary_data(self, spark):
        r = QUERIES["ext_nelson_rules"](spark, SF_DIR).collect()[0]
        # iid-ish daily revenue: run rules fire on a small share of days
        assert r["rule2_signals"] < r["n_days"] // 20
        assert r["rule3_signals"] < r["n_days"] // 20
