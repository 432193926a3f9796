"""Round-6 seventy-first wave: anomaly-detector ensemble."""

from __future__ import annotations

import math
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


class TestAnomalyEnsemble:
    def test_matches_python_rules(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE), COUNT(*)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        epoch = __import__("datetime").date(1970, 1, 1)
        daily = {(d - epoch).days: int(x) for d, x in rows}
        xs = sorted(daily.values())
        nd = len(xs)
        sx = sum(xs)
        sxx = sum(v * v for v in xs)
        mean = sx / nd
        sd = math.sqrt((sxx - sx * sx / nd) / (nd - 1))
        med = _interp(xs, 0.5)
        mad = _interp(sorted(abs(v - med) for v in xs), 0.5)
        cbar = sx / nd
        out = {
            r["d"]: r
            for r in QUERIES["ext_anomaly_ensemble"](spark, SF_DIR).collect()
        }
        assert set(out) == set(daily)
        n_consensus = 0
        for d, x in daily.items():
            r = out[d]
            v1 = 1 if abs(x - mean) > 3 * sd else 0
            v2 = 1 if abs(x - med) > 3 * 1.4826 * mad else 0
            v3 = 1 if x > cbar + 3 * math.sqrt(cbar) else 0
            assert (r["v_sigma"], r["v_mad"], r["v_pois"]) == (v1, v2, v3)
            assert r["votes"] == v1 + v2 + v3
            assert r["consensus"] == (1 if v1 + v2 + v3 >= 2 else 0)
            n_consensus += r["consensus"]
        # consensus flags are a subset of any single rule's flags
        assert n_consensus <= sum(r["v_mad"] for r in out.values()) + sum(
            r["v_sigma"] for r in out.values()
        )
