"""Round-6 seventy-third wave: interrupted time series, quantile ratios."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    QRATIO_PAIRS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _interp(sorted_vals, q):
    n = len(sorted_vals)
    pos = q * (n - 1)
    lo = int(pos)
    frac = pos - lo
    if lo + 1 >= n:
        return float(sorted_vals[lo])
    return sorted_vals[lo] + frac * (sorted_vals[lo + 1] - sorted_vals[lo])


class TestInterruptedTs:
    def test_matches_python_segments(self, spark):
        rows = duckdb.sql(
            f"""SELECT datediff('day', DATE '1970-01-01',
                                CAST(CAST(ts AS TIMESTAMP) AS DATE)),
                       COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1"""
        ).fetchall()
        daily = {int(d): int(y) for d, y in rows}
        cut = (min(daily) + max(daily)) // 2

        def fit(pts):
            n = len(pts)
            sx = sum(x for x, _ in pts)
            sy = sum(y for _, y in pts)
            sxx = sum(x * x for x, _ in pts)
            sxy = sum(x * y for x, y in pts)
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            at_cut = sy / n + slope * (cut - sx / n)
            return n, slope, at_cut

        pre = [(d, y) for d, y in daily.items() if d < cut]
        post = [(d, y) for d, y in daily.items() if d >= cut]
        np_, sp, ap = fit(pre)
        nq, sq, aq = fit(post)
        r = QUERIES["ext_interrupted_ts"](spark, SF_DIR).collect()[0]
        assert (r["cut"], r["np"], r["nq"]) == (cut, np_, nq)
        assert math.isclose(r["slope_pre"], sp, rel_tol=1e-12)
        assert math.isclose(r["slope_post"], sq, rel_tol=1e-12)
        assert math.isclose(r["slope_change"], sq - sp, rel_tol=1e-9)
        assert math.isclose(r["level_change"], aq - ap, rel_tol=1e-9)


class TestQuantileRatios:
    def test_matches_python_ratios(self, spark):
        vals = sorted(
            int(v)
            for (v,) in duckdb.sql(
                f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    FROM '{SF_DIR}/orders.parquet'"""
            ).fetchall()
        )
        out = {
            (r["pct_hi"], r["pct_lo"]): r
            for r in QUERIES["ext_quantile_ratios"](spark, SF_DIR).collect()
        }
        assert set(out) == set(QRATIO_PAIRS)
        for hi, lo in QRATIO_PAIRS:
            r = out[(hi, lo)]
            hv = _interp(vals, hi / 100)
            lv = _interp(vals, lo / 100)
            assert math.isclose(r["hi_value"], hv, rel_tol=1e-12)
            assert math.isclose(r["lo_value"], lv, rel_tol=1e-12)
            assert math.isclose(r["ratio"], hv / lv, rel_tol=1e-12)
            assert r["ratio"] >= 1.0
