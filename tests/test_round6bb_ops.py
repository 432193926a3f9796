"""Round-6 fifty-seventh wave: Kendall tau, Spearman rho."""

from __future__ import annotations

import math
import os
from itertools import combinations

import duckdb

from databricks_sales_etl_pipeline_spark import registry

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _daily_xy():
    rows = duckdb.sql(
        f"""SELECT datediff('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d,
                   SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END),
                   SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
            FROM '{SF_DIR}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    return [(int(x), int(y)) for _, x, y in rows]


class TestKendallTau:
    def test_matches_python_pair_signs(self, spark):
        pts = _daily_xy()
        conc = disc = ties = 0
        for (xa, ya), (xb, yb) in combinations(pts, 2):
            p = (xa - xb) * (ya - yb)
            if p > 0:
                conc += 1
            elif p < 0:
                disc += 1
            if xa == xb or ya == yb:
                ties += 1
        n_pairs = len(pts) * (len(pts) - 1) // 2
        r = QUERIES["ext_kendall_tau"](spark, SF_DIR).collect()[0]
        assert (r["concordant"], r["discordant"], r["ties"], r["n_pairs"]) \
            == (conc, disc, ties, n_pairs)
        sign = 1 if conc >= disc else -1
        assert r["tau_a_milli"] == sign * (abs(conc - disc) * 1000 // n_pairs)
        assert -1000 <= r["tau_a_milli"] <= 1000


class TestSpearmanRho:
    def test_matches_python_rank_pearson(self, spark):
        pts = _daily_xy()
        n = len(pts)

        def midranks2(vals):
            order = sorted(vals)
            first = {}
            count = {}
            for i, v in enumerate(order):
                first.setdefault(v, i)
                count[v] = count.get(v, 0) + 1
            return [2 * first[v] + count[v] + 1 for v in vals]

        rx = midranks2([x for x, _ in pts])
        ry = midranks2([y for _, y in pts])
        srx, sry = sum(rx), sum(ry)
        srxx = sum(v * v for v in rx)
        sryy = sum(v * v for v in ry)
        srxy = sum(a * b for a, b in zip(rx, ry))
        rho = (n * srxy - srx * sry) / math.sqrt(
            (n * srxx - srx * srx) * (n * sryy - sry * sry)
        )
        r = QUERIES["ext_spearman_rho"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["srx"], r["sry"]) == (n, srx, sry)
        assert math.isclose(r["rho"], rho, rel_tol=1e-12)
        assert -1.0 - 1e-12 <= r["rho"] <= 1.0 + 1e-12

    def test_rank_correlations_agree_in_sign(self, spark):
        tau = QUERIES["ext_kendall_tau"](spark, SF_DIR).collect()[0][
            "tau_a_milli"
        ]
        rho = QUERIES["ext_spearman_rho"](spark, SF_DIR).collect()[0]["rho"]
        if abs(tau) > 50:  # away from zero, the two must agree in sign
            assert (tau > 0) == (rho > 0)
