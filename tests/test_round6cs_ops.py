"""Round-6 hundredth wave: jackknife ratio SE."""

from __future__ import annotations

import math
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestJackknifeRatio:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                            AS BIGINT),
                       COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY user_id"""
        ).fetchall()
        ys = [int(y) for y, _ in rows]
        ns = [int(n) for _, n in rows]
        u, sy, sn = len(rows), sum(ys), sum(ns)
        tms = [(sy - y) * 1000 // (sn - n) for y, n in zip(ys, ns)]
        st, stt = sum(tms), sum(t * t for t in tms)
        se = math.sqrt((u - 1) / u * (stt - st * st / u)) / 1000
        r = QUERIES["ext_jackknife_ratio"](spark, SF_DIR).collect()[0]
        assert (r["n_users"], r["total_cents"], r["total_events"]) == (
            u, sy, sn
        )
        assert abs(r["ratio"] - sy / sn) < 1e-12 * (sy / sn)
        assert abs(r["se_jackknife"] - se) < 1e-9 * max(se, 1e-9)

    def test_agrees_with_delta_method(self, spark):
        jk = QUERIES["ext_jackknife_ratio"](spark, SF_DIR).collect()[0]
        dm = QUERIES["ext_delta_method"](spark, SF_DIR).collect()[0]
        # first-order equivalence: jackknife and delta SEs within 20%
        assert jk["se_jackknife"] > 0
        assert (
            abs(jk["se_jackknife"] - dm["se_delta"])
            < 0.2 * dm["se_delta"]
        )
