"""Round-6 hundred-tenth wave: 0/1 knapsack, point-in-polygon."""

from __future__ import annotations

import hashlib
import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.distsys import (
    PIP_POLY,
    _PIP_SALT,
)
from databricks_sales_etl_pipeline_spark.extensions.optstats import (
    KNAP_CAP,
    KNAP_N,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _band(key: str, mod: int, salt: str) -> int:
    return int(hashlib.md5((salt + key).encode()).hexdigest()[:8], 16) % mod


class TestKnapsackDp:
    def test_matches_python_dp_and_beats_greedy(self, spark):
        rows = duckdb.sql(
            f"""SELECT p_partkey,
                       CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT),
                       CAST(p_size AS BIGINT)
                FROM '{SF_DIR}/part.parquet'"""
        ).fetchall()
        items = sorted(
            ((-int(v), int(k), int(w)) for k, v, w in rows)
        )[:KNAP_N]
        vs = [-nv for nv, _, _ in items]
        ws = [w for _, _, w in items]
        best = [0] * (KNAP_CAP + 1)
        for v, w in zip(vs, ws):
            for c in range(KNAP_CAP, w - 1, -1):
                best[c] = max(best[c], best[c - w] + v)
        r = QUERIES["ext_knapsack_dp"](spark, SF_DIR).collect()[0]
        assert (r["n_items"], r["capacity"]) == (KNAP_N, KNAP_CAP)
        assert (r["total_weight"], r["total_value"]) == (sum(ws), sum(vs))
        assert r["best_value_cents"] == best[KNAP_CAP]
        # capacity binds: the optimum is strictly below taking everything
        assert r["best_value_cents"] < r["total_value"]
        assert r["best_value_cents"] > 0


class TestPointInPolygon:
    def test_matches_python_winding(self, spark):
        keys = [
            int(k)
            for (k,) in duckdb.sql(
                f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet'"
            ).fetchall()
        ]
        vals = {
            int(k): int(v)
            for k, v in duckdb.sql(
                f"""SELECT o_orderkey,
                           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    FROM '{SF_DIR}/orders.parquet'"""
            ).fetchall()
        }

        def inside(x, y):
            n = len(PIP_POLY)
            for i in range(n):
                x1, y1 = PIP_POLY[i]
                x2, y2 = PIP_POLY[(i + 1) % n]
                if (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) < 0:
                    return False
            return True

        agg = {True: [0, 0], False: [0, 0]}
        for k in keys:
            x = _band(f"px:{k}", 1000, _PIP_SALT)
            y = _band(f"py:{k}", 1000, _PIP_SALT)
            a = agg[inside(x, y)]
            a[0] += 1
            a[1] += vals[k]
        total = sum(v[1] for v in agg.values())
        got = {
            r["inside"]: (r["n_points"], r["revenue_cents"],
                          r["revenue_ppm"])
            for r in QUERIES["ext_point_in_polygon"](
                spark, SF_DIR
            ).collect()
        }
        assert got == {
            s: (n, v, v * 10**6 // total)
            for s, (n, v) in agg.items()
        }

    def test_region_share_plausible(self, spark):
        rows = {
            r["inside"]: r
            for r in QUERIES["ext_point_in_polygon"](
                spark, SF_DIR
            ).collect()
        }
        # the polygon covers roughly half the grid; uniform points land
        # inside at a comparable share
        share = rows[True]["n_points"] / (
            rows[True]["n_points"] + rows[False]["n_points"]
        )
        assert 0.25 < share < 0.75
