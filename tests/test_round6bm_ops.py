"""Round-6 sixty-eighth wave: BG/NBD inputs, returns-abuse screen."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import (
    BGNBD_FREQ_CAP,
)
from databricks_sales_etl_pipeline_spark.extensions.features import (
    ABUSE_MIN_ORDERS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestBgnbdInputs:
    def test_matches_python_grid(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_custkey,
                       datediff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE))
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        per_c = defaultdict(list)
        for ck, d in rows:
            per_c[ck].append(int(d))
        grid = defaultdict(int)
        for days in per_c.values():
            freq = min(len(days) - 1, BGNBD_FREQ_CAP)
            rec_q = (max(days) - min(days)) // 91
            grid[(freq, rec_q)] += 1
        out = {
            (r["frequency"], r["recency_quarter"]): r["n_customers"]
            for r in QUERIES["ext_bgnbd_inputs"](spark, SF_DIR).collect()
        }
        assert out == dict(grid)
        assert sum(out.values()) == len(per_c)


class TestReturnsAbuse:
    def test_matches_python_wilson_screen(self, spark):
        returned = {
            k
            for (k,) in duckdb.sql(
                f"""SELECT DISTINCT l_orderkey
                    FROM '{SF_DIR}/lineitem.parquet'
                    WHERE l_returnflag = 'R'"""
            ).fetchall()
        }
        rows = duckdb.sql(
            f"SELECT o_orderkey, o_custkey FROM '{SF_DIR}/orders.parquet'"
        ).fetchall()
        per_c = defaultdict(lambda: [0, 0])
        for ok, ck in rows:
            c = per_c[ck]
            c[0] += 1
            c[1] += 1 if ok in returned else 0
        testable = {
            ck: (t, s)
            for ck, (t, s) in per_c.items()
            if t >= ABUSE_MIN_ORDERS
        }
        gt = sum(t for t, _ in testable.values())
        gs = sum(s for _, s in testable.values())

        def wilson_lb(s, t):
            z = 1.96
            p = s / t
            return (
                p + z * z / (2 * t) - z * math.sqrt(
                    (p * (1 - p) + z * z / (4 * t)) / t
                )
            ) / (1 + z * z / t)

        out = {
            r["o_custkey"]: r
            for r in QUERIES["ext_returns_abuse"](spark, SF_DIR).collect()
        }
        assert set(out) == set(testable)
        n_flagged = 0
        for ck, (t, s) in testable.items():
            r = out[ck]
            assert (r["trials"], r["succ"]) == (t, s)
            assert r["rate_ppm"] == s * 1_000_000 // t
            lb = wilson_lb(s, t)
            assert math.isclose(r["wilson_lb"], lb, rel_tol=1e-9)
            want_flag = 1 if lb * gt > gs else 0
            assert r["abuse_flag"] == want_flag
            n_flagged += r["abuse_flag"]
        # the screen discriminates: some flagged, not everyone
        assert 0 < n_flagged < len(testable)
