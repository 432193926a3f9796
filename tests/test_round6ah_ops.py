"""Round-6 thirty-seventh wave: uplift/Qini, power analysis, runs test."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    QINI_BAND_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _returned_orders():
    return {
        k
        for (k,) in duckdb.sql(
            f"""SELECT DISTINCT l_orderkey FROM '{SF_DIR}/lineitem.parquet'
                WHERE l_returnflag = 'R'"""
        ).fetchall()
    }


class TestUpliftQini:
    def test_matches_python_cumulative_uplift(self, spark):
        returned = _returned_orders()
        orders = duckdb.sql(
            f"""SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       o_orderpriority
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        bands = defaultdict(lambda: [0, 0, 0, 0])  # n_t, pos_t, n_c, pos_c
        for k, cents, prio in orders:
            b = bands[cents // QINI_BAND_CENTS]
            t = prio in ("1-URGENT", "2-HIGH")
            y = 1 if k in returned else 0
            if t:
                b[0] += 1
                b[1] += y
            else:
                b[2] += 1
                b[3] += y
        cn_t = cp_t = cn_c = cp_c = 0
        want = {}
        for band in sorted(bands, reverse=True):
            n_t, pos_t, n_c, pos_c = bands[band]
            cn_t += n_t
            cp_t += pos_t
            cn_c += n_c
            cp_c += pos_c
            uplift = cp_t * 1_000_000 // cn_t - cp_c * 1_000_000 // cn_c
            qini = cp_t - cp_c * cn_t // cn_c
            want[band] = (cn_t, cp_t, cn_c, cp_c, uplift, qini)
        out = {
            r["band"]: r
            for r in QUERIES["ext_uplift_qini"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for band, (a, b_, c, d, u, q) in want.items():
            r = out[band]
            assert (
                r["cn_t"],
                r["cp_t"],
                r["cn_c"],
                r["cp_c"],
                r["uplift_ppm"],
                r["qini_value"],
            ) == (a, b_, c, d, u, q)
        # the full-population row (lowest band) has everyone
        full = out[min(want)]
        assert full["cn_t"] + full["cn_c"] == len(orders)


class TestPowerAnalysis:
    def test_matches_python_formula(self, spark):
        returned = _returned_orders()
        orders = duckdb.sql(
            f"""SELECT o_orderkey, CAST(o_orderdate AS DATE)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        n = len(orders)
        pos = sum(1 for k, _ in orders if k in returned)
        n_days = len({d for _, d in orders})
        p = pos / n
        za, zb = 1.959963984540054, 0.8416212335729143
        n_arm = math.ceil(2 * (za + zb) * (za + zb) * p * (1 - p) / (0.02 * 0.02))
        r = QUERIES["ext_power_analysis"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["pos"], r["n_days"]) == (n, pos, n_days)
        assert r["p_milli"] == pos * 1000 // n
        assert r["n_per_arm"] == n_arm
        assert r["est_days"] == (n_arm * 2 * n_days + n - 1) // n
        # sanity: a rarer event or smaller MDE needs more samples than
        # a 50/50 coin at the same MDE bound
        assert r["n_per_arm"] <= math.ceil(
            2 * (za + zb) ** 2 * 0.25 / 0.0004
        )


class TestRunsTest:
    def test_matches_python_runs_count(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(o_orderdate AS DATE),
                       SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        xs = [int(x) for _, x in rows]
        signs = []
        for prev, cur in zip(xs, xs[1:]):
            if cur > prev:
                signs.append(1)
            elif cur < prev:
                signs.append(-1)
        n1 = signs.count(1)
        n2 = signs.count(-1)
        r_runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        n = n1 + n2
        mu = 2 * n1 * n2 / n + 1
        var = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
        z = (r_runs - mu) / math.sqrt(var)
        r = QUERIES["ext_runs_test"](spark, SF_DIR).collect()[0]
        assert (r["n1"], r["n2"], r["r_runs"]) == (n1, n2, r_runs)
        assert math.isclose(r["z_value"], z, rel_tol=1e-12)
        assert r["reject_h0"] == (1 if abs(r["z_value"]) > 1.96 else 0)
        assert n1 + n2 > 100  # the daily series is long enough to test
