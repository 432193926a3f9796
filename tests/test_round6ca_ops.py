"""Round-6 eighty-second wave: one-way ANOVA, Croston forecaster."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.scanops import (
    CROSTON_A,
    CROSTON_MOD,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestAnovaOneway:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority, CAST(FLOOR(o_totalprice) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        g = defaultdict(lambda: [0, 0, 0])
        for grp, v in rows:
            v = int(v)
            g[grp][0] += 1
            g[grp][1] += v
            g[grp][2] += v * v
        n = sum(x[0] for x in g.values())
        s = sum(x[1] for x in g.values())
        q = sum(x[2] for x in g.values())
        k = len(g)

        def sq_over(sv, nv):
            return (sv // nv) * sv + ((sv % nv) * sv) // nv

        a = sum(sq_over(sv, nv) for nv, sv, _ in g.values())
        ssb = max(a - sq_over(s, n), 0)
        ssw = q - a
        msb, msw = ssb // (k - 1), ssw // (n - k)
        f_milli = msb * 1000 // max(msw, 1)
        got = {
            r["grp"]: r
            for r in QUERIES["ext_anova_oneway"](spark, SF_DIR).collect()
        }
        assert len(got) == k
        for grp, (nv, sv, _) in g.items():
            r = got[grp]
            assert (r["n_g"], r["sum_dollars"], r["mean_dollars"]) == (
                nv, sv, sv // nv
            )
            assert (r["n"], r["k"], r["ssb"], r["ssw"]) == (n, k, ssb, ssw)
            assert r["f_milli"] == f_milli

    def test_null_fixture_gives_f_near_one(self, spark):
        # priorities are independent of order value in this fixture
        r = QUERIES["ext_anova_oneway"](spark, SF_DIR).collect()[0]
        assert 0 <= r["f_milli"] < 5000  # F well under 5


class TestCrostonIntermittent:
    def test_matches_python_recurrence(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(l_shipdate AS DATE)) AS BIGINT) d,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) q
                FROM '{SF_DIR}/lineitem.parquet'
                WHERE l_partkey % {CROSTON_MOD} = 0
                GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        dem = [(int(d), int(q)) for d, q in rows]
        z, p, gap = dem[0][1], 1, 0
        expect = []
        for t, (d, q) in enumerate(dem, 1):
            if t > 1:
                gap = d - dem[t - 2][0]
                z = (q + (CROSTON_A - 1) * z) // CROSTON_A
                p = (gap + (CROSTON_A - 1) * p) // CROSTON_A
            expect.append((t, d, q, gap, z, p, z * 1000 // p))
        got = sorted(
            (
                r["t"], r["d"], r["q"], r["gap"], r["z_size"],
                r["p_interval"], r["rate_milli"],
            )
            for r in QUERIES["ext_croston_intermittent"](
                spark, SF_DIR
            ).collect()
        )
        assert got == expect

    def test_series_is_genuinely_intermittent(self, spark):
        rows = QUERIES["ext_croston_intermittent"](spark, SF_DIR).collect()
        gaps = [r["gap"] for r in rows if r["t"] > 1]
        assert gaps and max(gaps) > 1  # zero-demand days exist
        assert all(r["p_interval"] >= 1 for r in rows)
