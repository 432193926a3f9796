"""Round-6 fortieth wave: chain ladder, newsvendor, star-except."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestChainLadder:
    def test_matches_python_development_factors(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_custkey,
                       (year(CAST(o_orderdate AS DATE)) - 1995) * 12
                       + month(CAST(o_orderdate AS DATE)) - 1,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        first = {}
        for ck, m, _ in rows:
            first[ck] = min(first.get(ck, m), m)
        grid = defaultdict(int)
        for ck, m, rc in rows:
            grid[(first[ck], m - first[ck])] += rc
        cum = {}
        by_cohort = defaultdict(list)
        for (coh, dev), rev in grid.items():
            by_cohort[coh].append(dev)
        for coh, devs in by_cohort.items():
            devs.sort()
            acc = 0
            for dev in devs:
                acc += grid[(coh, dev)]
                cum[(coh, dev)] = acc
        pairs = defaultdict(lambda: [0, 0, 0])
        for coh, devs in by_cohort.items():
            for a, b in zip(devs, devs[1:]):
                if b == a + 1:
                    p = pairs[a]
                    p[0] += 1
                    p[1] += cum[(coh, a)]
                    p[2] += cum[(coh, b)]
        out = {
            r["dev"]: r
            for r in QUERIES["ext_chain_ladder"](spark, SF_DIR).collect()
        }
        assert set(out) == set(pairs)
        for dev, (n, sc, snc) in pairs.items():
            r = out[dev]
            assert (r["n_cohorts"], r["sum_c"], r["sum_next_c"]) == (
                n,
                sc,
                snc,
            )
            assert r["factor_ppm"] == snc * 1_000_000 // sc
            # cumulative revenue never shrinks → factors >= 1
            assert r["factor_ppm"] >= 1_000_000


class TestNewsvendor:
    def test_matches_python_fractile(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand, CAST(l.l_shipdate AS DATE),
                       SUM(CAST(l.l_quantity AS BIGINT))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        daily = defaultdict(list)
        for brand, _, qty in rows:
            daily[brand].append(int(qty))
        out = {
            r["brand"]: r
            for r in QUERIES["ext_newsvendor_stock"](spark, SF_DIR).collect()
        }
        assert set(out) == set(daily)
        for brand, qtys in daily.items():
            qtys.sort()
            n = len(qtys)
            # linear-interpolated 0.8 quantile (both engines' contract)
            pos = 0.8 * (n - 1)
            lo = int(pos)
            frac = pos - lo
            stock = qtys[lo] if lo + 1 >= n else qtys[lo] + frac * (
                qtys[lo + 1] - qtys[lo]
            )
            r = out[brand]
            assert r["n_days"] == n
            assert abs(r["stock_qty"] - stock) < 1e-9
            so = sum(1 for q in qtys if q > r["stock_qty"])
            assert r["stockout_days"] == so
            assert r["service_ppm"] == (n - so) * 1_000_000 // n
            # the fractile guarantees ≥ ~80% service by construction
            assert r["service_ppm"] >= 790_000


class TestStarExcept:
    def test_drops_exactly_the_money_column(self, spark):
        df = QUERIES["sql_star_except"](spark, SF_DIR)
        assert "o_totalprice" not in df.columns
        assert set(df.columns) == {
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "o_orderpriority",
        }
        n = duckdb.sql(
            f"""SELECT COUNT(*) FROM '{SF_DIR}/orders.parquet'
                WHERE o_orderstatus = 'F'"""
        ).fetchone()[0]
        assert df.count() == n
