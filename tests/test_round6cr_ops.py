"""Round-6 ninety-ninth wave: tiered pricing, delta-method ratio CI."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.retail import (
    TIER_B1,
    TIER_B2,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestTieredPricing:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(l_quantity AS BIGINT),
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet'"""
        ).fetchall()
        agg = defaultdict(lambda: [0, 0, 0, 0, 0])
        for q, ext in rows:
            q, ext = int(q), int(ext)
            unit = ext // q
            t1 = min(q, TIER_B1)
            t2 = max(min(q, TIER_B2) - TIER_B1, 0)
            t3 = max(q - TIER_B2, 0)
            billed = (
                t1 * unit
                + t2 * (unit * 95 // 100)
                + t3 * (unit * 90 // 100)
            )
            tier = 1 if q <= TIER_B1 else 2 if q <= TIER_B2 else 3
            a = agg[tier]
            a[0] += 1
            a[1] += q
            a[2] += ext
            a[3] += billed
            a[4] += ext - billed
        got = {
            r["top_tier"]: (
                r["n_lines"], r["units"], r["list_cents"],
                r["billed_cents"], r["discount_cents"],
            )
            for r in QUERIES["ext_tiered_pricing"](spark, SF_DIR).collect()
        }
        assert got == {k: tuple(v) for k, v in agg.items()}

    def test_marginal_structure(self, spark):
        rows = {
            r["top_tier"]: r
            for r in QUERIES["ext_tiered_pricing"](spark, SF_DIR).collect()
        }
        # tier-1 lines carry only the floored-unit rounding residue
        # (ext % q < q <= 10 cents per line); deeper tiers give up real
        # revenue
        assert rows[1]["discount_cents"] < rows[1]["n_lines"] * TIER_B1
        assert rows[3]["discount_cents"] > rows[2]["discount_cents"] > 0
        for r in rows.values():
            assert r["billed_cents"] <= r["list_cents"]


class TestDeltaMethod:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id,
                       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                            AS BIGINT),
                       COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
        ).fetchall()
        ys = [int(y) for _, y, _ in rows]
        ns = [int(n) for _, _, n in rows]
        u = len(rows)
        sy, sn = sum(ys), sum(ns)
        var_y = (sum(y * y for y in ys) - sy * sy / u) / (u - 1)
        var_n = (sum(n * n for n in ns) - sn * sn / u) / (u - 1)
        cov = (
            sum(y * n for y, n in zip(ys, ns)) - sy * sn / u
        ) / (u - 1)
        r_ = sy / sn
        mean_n = sn / u
        var_r = (var_y - 2 * r_ * cov + r_ * r_ * var_n) / (
            u * mean_n * mean_n
        )
        se = math.sqrt(var_r)
        row = QUERIES["ext_delta_method"](spark, SF_DIR).collect()[0]
        assert (row["n_users"], row["total_cents"], row["total_events"]) \
            == (u, sy, sn)
        assert abs(row["ratio_cents_per_event"] - r_) < 1e-9 * abs(r_)
        assert abs(row["se_delta"] - se) < 1e-9 * se
        assert row["ci_lo"] < row["ratio_cents_per_event"] < row["ci_hi"]

    def test_delta_se_exceeds_naive_iid(self, spark):
        vals = [
            int(v)
            for (v,) in duckdb.sql(
                f"""SELECT CAST(floor(value * 100 + 0.5) AS BIGINT)
                    FROM '{SF_DIR}/events.parquet'"""
            ).fetchall()
        ]
        n = len(vals)
        m = sum(vals) / n
        var = sum((v - m) ** 2 for v in vals) / (n - 1)
        naive_se = math.sqrt(var / n)
        row = QUERIES["ext_delta_method"](spark, SF_DIR).collect()[0]
        # clustered-by-user data: the honest SE is at least ~the naive one
        assert row["se_delta"] > 0.5 * naive_se
