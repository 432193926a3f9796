"""Round-6 sixty-third wave: robust location ladder."""

from __future__ import annotations

import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry

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


class TestRobustLocation:
    def test_matches_python_estimators(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE), COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        xs = sorted(int(x) for _, x in rows)
        n = len(xs)
        p10, med, p90 = (
            _interp(xs, 0.1),
            _interp(xs, 0.5),
            _interp(xs, 0.9),
        )
        trim = [v for v in xs if p10 <= v <= p90]
        walsh = sorted(
            xs[i] + xs[j] for i in range(n) for j in range(i, n)
        )
        hl = _interp(walsh, 0.5) / 2
        r = QUERIES["ext_robust_location"](spark, SF_DIR).collect()[0]
        assert r["n"] == n
        assert r["mean_milli"] == sum(xs) * 1000 // n
        assert abs(r["median_"] - med) < 1e-9
        assert r["trimmed_milli"] == sum(trim) * 1000 // len(trim)
        assert abs(r["hodges_lehmann"] - hl) < 1e-9
        # the robust estimates bracket sensibly on a unimodal series
        assert min(xs) <= r["hodges_lehmann"] <= max(xs)
        assert min(xs) * 1000 <= r["trimmed_milli"] <= max(xs) * 1000
