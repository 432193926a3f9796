"""Round-6 ninety-sixth wave: amortization schedule, MMM grid fit."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    MMM_DECAYS,
    MMM_LAGS,
    MMM_WMAX,
)
from databricks_sales_etl_pipeline_spark.extensions.warehouse import (
    AMORT_MONTHS,
    AMORT_RATE_PPM,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestAmortization:
    def test_schedule_reconciles_to_the_cent(self, spark):
        rows = sorted(
            QUERIES["ext_amortization"](spark, SF_DIR).collect(),
            key=lambda r: r["m"],
        )
        principal = rows[0]["principal_cents"]
        top = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 1"""
        ).fetchone()[0]
        assert principal == int(top)
        assert sum(r["principal_cents_paid"] for r in rows) == principal
        assert rows[-1]["balance_cents"] == 0
        assert len(rows) <= AMORT_MONTHS

    def test_interest_declines(self, spark):
        rows = sorted(
            QUERIES["ext_amortization"](spark, SF_DIR).collect(),
            key=lambda r: r["m"],
        )
        ints = [r["interest_cents"] for r in rows]
        assert ints == sorted(ints, reverse=True)
        bal = rows[0]["principal_cents"]
        for r in rows:
            assert r["interest_cents"] == bal * AMORT_RATE_PPM // 10**6
            bal -= r["principal_cents_paid"]
            assert r["balance_cents"] == bal


class TestMmmGrid:
    def test_matches_python_reference(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                            CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT),
                       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                           END),
                       SUM(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        cs = [int(c) for _, c, _ in daily]
        ps = [int(p) for _, _, p in daily]
        expect = {}
        for d in MMM_DECAYS:
            for L in MMM_LAGS:
                sap = saa = 0
                avals = []
                for t in range(len(cs)):
                    a = sum(
                        (cs[t - k] if t - k >= 0 else 0)
                        * (1 << (MMM_WMAX - k * d))
                        for k in range(L)
                        if MMM_WMAX - k * d >= 0
                    )
                    avals.append(a)
                    sap += a * ps[t]
                    saa += a * a
                beta = sap * 1000 // saa
                sse = sum(
                    (p - a * beta // 1000) ** 2
                    for a, p in zip(avals, ps)
                )
                expect[(d, L)] = (beta, sse)
        got = {
            (r["decay"], r["lag_depth"]): (r["beta_milli"], r["sse"])
            for r in QUERIES["ext_mmm_grid"](spark, SF_DIR).collect()
        }
        assert got == expect
        best = min((v[1], k) for k, v in expect.items())
        flags = {
            (r["decay"], r["lag_depth"]): r["is_best"]
            for r in QUERIES["ext_mmm_grid"](spark, SF_DIR).collect()
        }
        assert flags[best[1]] is True
        assert sum(1 for v in flags.values() if v) == 1

    def test_grid_complete(self, spark):
        rows = QUERIES["ext_mmm_grid"](spark, SF_DIR).collect()
        assert len(rows) == len(MMM_DECAYS) * len(MMM_LAGS)
