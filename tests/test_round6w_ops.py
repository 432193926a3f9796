"""Round-6 twenty-third wave: rolling median band, Gini concentration."""

from __future__ import annotations

import os
import statistics

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import ROLL_MED_W
from databricks_sales_etl_pipeline_spark.extensions.retail import GINI_DECILES

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestRollingMedianBand:
    def test_matches_python_rolling_median(self, spark):
        import duckdb
        import datetime

        daily = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE) AS dd, COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        epoch = datetime.date(1970, 1, 1)
        pts = [((d - epoch).days, int(x)) for d, x in daily]
        out = {r["d"]: r for r in QUERIES["ext_rolling_median_band"](spark, SF_DIR).collect()}
        # only full frames are emitted
        assert len(out) == len(pts) - ROLL_MED_W
        for i in range(ROLL_MED_W, len(pts)):
            d, x = pts[i]
            frame = [v for _, v in pts[i - ROLL_MED_W : i + 1]]
            r = out[d]
            assert r["x"] == x
            assert abs(r["med"] - statistics.median(frame)) < 1e-9
            assert r["wmin"] == min(frame) and r["wmax"] == max(frame)
            assert r["breach_hi"] == (
                1 if x > r["med"] + (max(frame) - min(frame)) else 0
            )


class TestGiniConcentration:
    def test_matches_python_gini_and_lorenz(self, spark):
        import duckdb

        rev = sorted(
            int(r)
            for (r,) in duckdb.sql(
                f"""SELECT SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                          * 100 + 0.5) AS BIGINT))
                    FROM '{SF_DIR}/lineitem.parquet' GROUP BY l_partkey"""
            ).fetchall()
        )
        n, t = len(rev), sum(rev)
        gini = sum((2 * (i + 1) - n - 1) * r for i, r in enumerate(rev))
        gini_ppm = gini * 1_000_000 // (n * t)
        rows = sorted(
            QUERIES["ext_gini_concentration"](spark, SF_DIR).collect(),
            key=lambda r: r["decile"],
        )
        assert [r["decile"] for r in rows] == list(range(1, GINI_DECILES + 1))
        for r in rows:
            assert r["n_parts"] == n and r["total_cents"] == t
            assert r["gini_ppm"] == gini_ppm
        assert 0 <= gini_ppm <= 1_000_000
        # Lorenz curve is increasing and ends at 100%
        lorenz = [r["lorenz_ppm"] for r in rows]
        assert lorenz == sorted(lorenz)
        assert rows[-1]["cum_cents"] == t
        assert rows[-1]["lorenz_ppm"] == 1_000_000
        # recompute one decile point: cum share at the i*n/10-th value
        cum = 0
        want = {}
        for i, r in enumerate(rev):
            cum += r
            want[i * GINI_DECILES // n + 1] = cum
        for r in rows:
            assert r["cum_cents"] == want[r["decile"]]
