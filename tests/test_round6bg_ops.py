"""Round-6 sixty-second wave: split-billing screen, Fleiss kappa."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.evalmetrics import (
    MCNEMAR_A_CENTS,
)
from databricks_sales_etl_pipeline_spark.extensions.warehouse import (
    SPLIT_APPROVAL_CENTS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestDoubleBilling:
    def test_matches_python_groups(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_custkey, CAST(o_orderdate AS DATE),
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       o_orderkey
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        groups = defaultdict(list)
        for ck, d, c, k in rows:
            groups[(ck, d)].append((int(c), int(k)))
        want = {}
        for key, lst in groups.items():
            if len(lst) < 2:
                continue
            total = sum(c for c, _ in lst)
            mx = max(c for c, _ in lst)
            flag = (
                1
                if total > SPLIT_APPROVAL_CENTS
                and mx <= SPLIT_APPROVAL_CENTS
                else 0
            )
            want[key] = (
                len(lst),
                total,
                mx,
                min(k for _, k in lst),
                max(k for _, k in lst),
                flag,
            )
        out = {
            (r["o_custkey"], r["d"]): r
            for r in QUERIES["ext_double_billing"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for key, (n, tot, mx, fk, lk, flag) in want.items():
            r = out[key]
            assert (
                r["n_orders"],
                r["total_cents"],
                r["max_single_cents"],
                r["first_key"],
                r["last_key"],
                r["split_flag"],
            ) == (n, tot, mx, fk, lk, flag)
        assert want  # multi-order days exist at this sf


class TestFleissKappa:
    def test_matches_python_formula(self, spark):
        rows = duckdb.sql(
            f"""SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                       o_orderpriority, month(CAST(o_orderdate AS DATE))
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        n = len(rows)
        t = s2 = 0
        for cents, prio, mo in rows:
            a = (
                (1 if cents > MCNEMAR_A_CENTS else 0)
                + (1 if prio in ("1-URGENT", "2-HIGH") else 0)
                + (1 if mo <= 6 else 0)
            )
            t += a
            s2 += a * a + (3 - a) * (3 - a)
        num = 3 * n * (s2 - 3 * n) - 2 * (t * t + (3 * n - t) ** 2)
        den = 18 * n * n - 2 * (t * t + (3 * n - t) ** 2)
        sign = 1 if num >= 0 else -1
        kappa = sign * (abs(num) * 1000 // den)
        r = QUERIES["ext_fleiss_kappa"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["t"], r["s2"]) == (n, t, s2)
        assert r["fleiss_kappa_milli"] == kappa
        # sanity against the float formula
        p_bar = (s2 - 3 * n) / (6 * n)
        p1 = t / (3 * n)
        p_e = p1 * p1 + (1 - p1) * (1 - p1)
        kf = (p_bar - p_e) / (1 - p_e)
        assert abs(kappa / 1000 - kf) < 2e-3
        # independent raters → kappa near zero
        assert abs(r["fleiss_kappa_milli"]) < 200
