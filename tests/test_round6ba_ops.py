"""Round-6 fifty-sixth wave: parallel trends, cross-correlation."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    XCORR_MAX_LAG,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestParallelTrends:
    def test_matches_python_per_arm_slopes(self, spark):
        rows = duckdb.sql(
            f"""SELECT c.c_mktsegment = 'BUILDING',
                       month(CAST(o.o_orderdate AS DATE)),
                       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                WHERE month(CAST(o.o_orderdate AS DATE)) <= 6"""
        ).fetchall()
        monthly = defaultdict(int)
        for t, m, rc in rows:
            monthly[(bool(t), int(m))] += rc

        def slope(arm):
            pts = [(m, rev) for (t, m), rev in monthly.items() if t == arm]
            n = len(pts)
            sx = sum(m for m, _ in pts)
            sy = sum(r for _, r in pts)
            sxx = sum(m * m for m, _ in pts)
            sxy = sum(m * r for m, r in pts)
            return n, (n * sxy - sx * sy) / (n * sxx - sx * sx)

        nt, st = slope(True)
        nc, sc = slope(False)
        r = QUERIES["ext_parallel_trends"](spark, SF_DIR).collect()[0]
        assert (r["nt"], r["nc"]) == (nt, nc)
        assert math.isclose(r["slope_treated"], st, rel_tol=1e-12)
        assert math.isclose(r["slope_control"], sc, rel_tol=1e-12)
        assert math.isclose(r["slope_gap"], st - sc, rel_tol=1e-9)


class TestCrossCorrelation:
    def test_matches_python_lag_scan(self, spark):
        rows = duckdb.sql(
            f"""SELECT datediff('day', DATE '1970-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)),
                       SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END),
                       SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1"""
        ).fetchall()
        daily = {int(d): (int(x), int(y)) for d, x, y in rows}
        out = {
            r["lag"]: r
            for r in QUERIES["ext_cross_correlation"](spark, SF_DIR).collect()
        }
        assert set(out) == set(range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1))
        for lag in out:
            pairs = [
                (daily[d][0], daily[d + lag][1])
                for d in daily
                if d + lag in daily
            ]
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            r = out[lag]
            assert r["n"] == n
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            if vx > 0 and vy > 0:
                want = (n * sxy - sx * sy) / math.sqrt(vx * vy)
                assert math.isclose(r["xcorr"], want, rel_tol=1e-12)
            else:
                assert r["xcorr"] is None
        # more overlap at lag 0 than at the extremes
        assert out[0]["n"] >= out[XCORR_MAX_LAG]["n"]
