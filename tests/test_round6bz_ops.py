"""Round-6 eighty-first wave: RANSAC line fit, Lorenz knee detection."""

from __future__ import annotations

import hashlib
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    RANSAC_C,
    _RANSAC_SALT,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestRansacLine:
    def test_matches_python_reference(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        pts = [(int(x), int(y)) for x, y in daily]
        n = len(pts)
        tol = sum(y for _, y in pts) // (n * 5)
        best = None
        for j in range(RANSAC_C):
            r1 = 1 + _band(f"a:{j}", 10**9, _RANSAC_SALT) % n
            r2 = 1 + _band(f"b:{j}", 10**9, _RANSAC_SALT) % n
            if r1 == r2:
                continue
            (xa, ya), (xb, yb) = pts[r1 - 1], pts[r2 - 1]
            (x1, y1), (x2, y2) = sorted([(xa, ya), (xb, yb)])
            votes = sum(
                1
                for x, y in pts
                if abs((y - y1) * (x2 - x1) - (x - x1) * (y2 - y1))
                <= tol * (x2 - x1)
            )
            key = (-votes, j)
            if best is None or key < best[0]:
                best = (key, (x1, y1, x2, y2, votes))
        x1, y1, x2, y2, votes = best[1]
        r = QUERIES["ext_ransac_line"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        assert (r["x1"], r["y1"], r["x2"], r["y2"]) == (x1, y1, x2, y2)
        assert (r["best_j"], r["n_inliers"], r["n_points"]) == (
            best[0][1], votes, n
        )
        assert r["inlier_ppm"] == votes * 10**6 // n
        dy = y2 - y1
        assert r["slope_milli_cents_per_day"] == (
            (1 if dy >= 0 else -1) * (abs(dy) * 1000 // (x2 - x1))
        )

    def test_consensus_nontrivial(self, spark):
        r = QUERIES["ext_ransac_line"](spark, SF_DIR).collect()[0]
        # the winning line must capture a plurality but the tolerance
        # band must not swallow everything
        assert 0 < r["n_inliers"] < r["n_points"]
        assert r["inlier_ppm"] > 50_000


class TestKneeDetection:
    def test_matches_python_reference(self, spark):
        rev = duckdb.sql(
            f"""SELECT l_partkey,
                       CAST(SUM(CAST(FLOOR(l_extendedprice
                                           * (1 - l_discount) * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS r
                FROM '{SF_DIR}/lineitem.parquet'
                GROUP BY 1 ORDER BY r, l_partkey"""
        ).fetchall()
        vals = [int(r) for _, r in rev]
        n = len(vals)
        t = sum(vals)
        cum = 0
        best = None
        for i, v in enumerate(vals, 1):
            cum += v
            cross = abs(cum * n - i * t)
            key = (-cross, i)
            if best is None or key < best[0]:
                best = (key, (i, cum, cross))
        i, cum, cross = best[1]
        r = QUERIES["ext_knee_detection"](spark, SF_DIR).collect()
        assert len(r) == 1
        r = r[0]
        assert (r["n_parts"], r["knee_rank"], r["knee_cum_cents"]) == (
            n, i, cum
        )
        assert r["max_cross_abs"] == cross
        assert r["knee_rank_ppm"] == i * 10**6 // n
        assert r["knee_share_ppm"] == cum * 10**6 // t

    def test_knee_is_below_diagonal(self, spark):
        # Lorenz curves bow under the equality diagonal: at the knee the
        # cumulative share must trail the rank share
        r = QUERIES["ext_knee_detection"](spark, SF_DIR).collect()[0]
        assert r["knee_share_ppm"] < r["knee_rank_ppm"]
