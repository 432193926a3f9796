"""Round-6 fifty-eighth wave: Cronbach alpha, Cohen's kappa."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    MCNEMAR_A_CENTS,
    _ALPHA_ITEMS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestCronbachAlpha:
    def test_matches_python_formula(self, spark):
        rows = duckdb.sql(
            f"""SELECT user_id, event_type, COUNT(*)
                FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2"""
        ).fetchall()
        users = defaultdict(lambda: [0] * len(_ALPHA_ITEMS))
        idx = {it: i for i, it in enumerate(_ALPHA_ITEMS)}
        for u, et, c in rows:
            users[u][idx[et]] = int(c)
        mat = list(users.values())
        n = len(mat)
        k = len(_ALPHA_ITEMS)

        def var_num(vals):  # n-scaled variance numerator
            s = sum(vals)
            ss = sum(v * v for v in vals)
            return n * ss - s * s

        item_vars = sum(
            var_num([row[i] for row in mat]) for i in range(k)
        )
        totals = [sum(row) for row in mat]
        total_var = var_num(totals)
        alpha = (k / (k - 1)) * (1 - item_vars / total_var)
        r = QUERIES["ext_cronbach_alpha"](spark, SF_DIR).collect()[0]
        assert r["n"] == n
        assert r["st"] == sum(totals)
        assert r["stt"] == sum(t * t for t in totals)
        assert math.isclose(r["alpha"], alpha, rel_tol=1e-12)
        # independent Poisson items → low internal consistency
        assert r["alpha"] < 0.5


class TestCohensKappa:
    def test_matches_python_chance_correction(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       o_orderpriority
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        n11 = n10 = n01 = n00 = 0
        for cents, prio in rows:
            a = 1 if cents > MCNEMAR_A_CENTS else 0
            b = 1 if prio in ("1-URGENT", "2-HIGH") else 0
            if a and b:
                n11 += 1
            elif a:
                n10 += 1
            elif b:
                n01 += 1
            else:
                n00 += 1
        n = len(rows)
        expected = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
        num = n * (n11 + n00) - expected
        den = n * n - expected
        sign = 1 if num >= 0 else -1
        kappa = sign * (abs(num) * 1000 // den)
        r = QUERIES["ext_cohens_kappa"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["n11"], r["n10"], r["n01"], r["n00"]) == (
            n,
            n11,
            n10,
            n01,
            n00,
        )
        assert r["kappa_milli"] == kappa
        # independent rules → kappa near zero (chance-level agreement)
        assert abs(r["kappa_milli"]) < 200
