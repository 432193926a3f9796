"""Round-6 fifty-third wave: dynamic time warping."""

from __future__ import annotations

import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _series():
    rows = duckdb.sql(
        f"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END),
                   SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_DIR}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    return [int(x) for _, x, _ in rows], [int(y) for _, _, y in rows]


def _dtw(xs, ys):
    n = len(xs)
    prev = None
    for i in range(n):
        cur = [0] * n
        for j in range(n):
            c = abs(xs[i] - ys[j])
            if i == 0 and j == 0:
                cur[j] = c
            elif i == 0:
                cur[j] = c + cur[j - 1]
            elif j == 0:
                cur[j] = c + prev[j]
            else:
                cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return prev[-1]


class TestDtwDistance:
    def test_matches_python_dp(self, spark):
        xs, ys = _series()
        r = QUERIES["ext_dtw_distance"](spark, SF_DIR).collect()[0]
        assert r["n_days"] == len(xs)
        assert r["dtw_distance"] == _dtw(xs, ys)
        assert r["l1_distance"] == sum(
            abs(a - b) for a, b in zip(xs, ys)
        )
        # identity alignment is always feasible → DTW <= L1
        assert r["dtw_distance"] <= r["l1_distance"]

    def test_warping_invariance_property(self):
        # a lagged copy of a series is much closer under DTW than L1
        base = [10, 50, 10, 10, 60, 10, 10, 40, 10, 10]
        lagged = base[1:] + [10]
        dtw = _dtw(base, lagged)
        l1 = sum(abs(a - b) for a, b in zip(base, lagged))
        assert dtw < l1 // 4
