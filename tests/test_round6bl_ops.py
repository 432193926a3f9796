"""Round-6 sixty-seventh wave: price-volume-mix bridge, cannibalization."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    CANNIBAL_TOP_K,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestPriceVolumeMix:
    def test_matches_python_bridge(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand, month(CAST(l.l_shipdate AS DATE)) <= 6,
                       CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT),
                       CAST(l.l_quantity AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        agg = defaultdict(lambda: [0, 0, 0, 0])
        for brand, base, rev, qty in rows:
            a = agg[brand]
            if base:
                a[0] += qty
                a[1] += rev
            else:
                a[2] += qty
                a[3] += rev

        def eff(num):
            s = 1 if num >= 0 else -1
            return s * (abs(num) * 1 // 1000) if False else s * (
                abs(num) // 1000
            )

        out = {
            r["brand"]: r
            for r in QUERIES["ext_price_volume_mix"](spark, SF_DIR).collect()
        }
        expected_brands = {
            b for b, (q0, _, q1, _) in agg.items() if q0 > 0 and q1 > 0
        }
        assert set(out) == expected_brands
        for brand in expected_brands:
            q0, r0, q1, r1 = agg[brand]
            u0, u1 = r0 * 1000 // q0, r1 * 1000 // q1
            r = out[brand]
            assert (r["q0"], r["q1"]) == (q0, q1)
            assert r["delta_rev_cents"] == r1 - r0
            assert r["volume_effect_cents"] == eff((q1 - q0) * u0)
            assert r["price_effect_cents"] == eff((u1 - u0) * q0)
            assert r["cross_effect_cents"] == eff((u1 - u0) * (q1 - q0))
            # the bridge reconciles to the revenue delta within the
            # truncation slack of the three fixed-point effects
            bridge = (
                r["volume_effect_cents"]
                + r["price_effect_cents"]
                + r["cross_effect_cents"]
            )
            slack = abs(r1 - r0) // 100 + q0 + q1 + 3
            assert abs(bridge - r["delta_rev_cents"]) <= slack


class TestCannibalization:
    def test_matches_python_bottomk(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand, CAST(l.l_shipdate AS DATE),
                       SUM(CAST(l.l_quantity AS BIGINT))
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p ON p.p_partkey = l.l_partkey
                GROUP BY 1, 2"""
        ).fetchall()
        daily = defaultdict(dict)
        for b, d, q in rows:
            daily[d][b] = int(q)
        moments = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
        for d, per_b in daily.items():
            brands = sorted(per_b)
            for i, x in enumerate(brands):
                for y in brands[i + 1 :]:
                    m = moments[(x, y)]
                    qa, qb = per_b[x], per_b[y]
                    m[0] += 1
                    m[1] += qa
                    m[2] += qb
                    m[3] += qa * qa
                    m[4] += qb * qb
                    m[5] += qa * qb
        scored = []
        for (x, y), (n, sx, sy, sxx, syy, sxy) in moments.items():
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            if vx > 0 and vy > 0:
                c = (n * sxy - sx * sy) / math.sqrt(vx * vy)
                scored.append((c, x, y, n))
        scored.sort()
        want = scored[:CANNIBAL_TOP_K]
        out = QUERIES["ext_cannibalization"](spark, SF_DIR).collect()
        assert len(out) == len(want)
        for r, (c, x, y, n) in zip(out, want):
            assert (r["brand_a"], r["brand_b"], r["n"]) == (x, y, n)
            assert math.isclose(r["corr_"], c, rel_tol=1e-12)
        # report is sorted most-negative first
        cs = [r["corr_"] for r in out]
        assert cs == sorted(cs)
