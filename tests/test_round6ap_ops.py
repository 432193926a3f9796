"""Round-6 forty-fifth wave: proportion z-test, EB shrinkage, NPV LTV."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.features import EB_PRIOR_K
from databricks_sales_etl_pipeline_spark.extensions.retail import NPV_FACTORS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestPropZtest:
    def test_matches_python_pooled_z(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id,
                       SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END),
                       SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
        ).fetchall()
        # arm assignment must mirror md5_band(user_id, 2, 'ab:')
        import hashlib

        def band(uid):
            return int(
                hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:8], 16
            ) % 2

        n1 = x1 = n0 = x0 = 0
        for uid, np_, nc in rows:
            conv = 1 if np_ > nc else 0
            if band(uid) == 0:
                n0 += 1
                x0 += conv
            else:
                n1 += 1
                x1 += conv
        r = QUERIES["ext_prop_ztest"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["x1"], r["n0"], r["x0"]) == (n1, x1, n0, x0)
        assert r["lift_bp"] == x1 * 10000 // n1 - x0 * 10000 // n0
        # conversion is non-degenerate at this sf (the test has power)
        assert 0 < x1 + x0 < n1 + n0
        p = (x1 + x0) / (n1 + n0)
        z = (x1 / n1 - x0 / n0) / math.sqrt(
            p * (1 - p) * (1 / n1 + 1 / n0)
        )
        assert math.isclose(r["z_value"], z, rel_tol=1e-12)
        assert r["reject_h0"] == (1 if abs(z) > 1.96 else 0)


class TestEbShrinkage:
    def test_matches_python_pseudocounts(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand,
                       COUNT(*),
                       SUM(CASE WHEN l.l_returnflag='R' THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey
                GROUP BY 1"""
        ).fetchall()
        gt = sum(int(t) for _, t, _ in rows)
        gs = sum(int(s) for _, _, s in rows)
        out = {
            r["brand"]: r
            for r in QUERIES["ext_eb_shrinkage"](spark, SF_DIR).collect()
        }
        assert set(out) == {b for b, _, _ in rows}
        for brand, t, s in rows:
            t, s = int(t), int(s)
            r = out[brand]
            assert (r["trials"], r["succ"]) == (t, s)
            assert r["raw_ppm"] == s * 1_000_000 // t
            want = (s * gt + EB_PRIOR_K * gs) * 1_000_000 // (
                gt * (t + EB_PRIOR_K)
            )
            assert r["shrunk_ppm"] == want
            # shrinkage moves the estimate TOWARD the global rate
            g_ppm = gs * 1_000_000 // gt
            assert (
                min(r["raw_ppm"], g_ppm) - 1
                <= r["shrunk_ppm"]
                <= max(r["raw_ppm"], g_ppm) + 1
            )


class TestNpvLtv:
    def test_matches_python_discounted_grid(self, spark):
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
        nominal = defaultdict(int)
        npv = defaultdict(int)
        grid = defaultdict(int)
        for ck, m, rc in rows:
            coh = first[ck]
            offs = min(m - coh, len(NPV_FACTORS) - 1)
            grid[(coh, offs)] += rc
        for (coh, offs), rev in grid.items():
            nominal[coh] += rev
            npv[coh] += rev * NPV_FACTORS[offs] // 1_000_000
        out = {
            r["cohort"]: r
            for r in QUERIES["ext_npv_ltv"](spark, SF_DIR).collect()
        }
        assert set(out) == set(nominal)
        for coh in nominal:
            r = out[coh]
            assert r["nominal_cents"] == nominal[coh]
            assert r["npv_cents"] == npv[coh]
            assert r["npv_ratio_ppm"] == npv[coh] * 1_000_000 // nominal[coh]
            assert r["npv_cents"] <= r["nominal_cents"]

    def test_factor_table_is_truncating_recurrence(self):
        f = 1_000_000
        for k, v in enumerate(NPV_FACTORS):
            assert v == f
            f = f * 99 // 100
        assert len(NPV_FACTORS) == 80
