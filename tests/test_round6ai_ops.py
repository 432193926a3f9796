"""Round-6 thirty-eighth wave: Granger F, covariate balance, adstock."""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.retail import ADSTOCK_W

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _daily_counts(event_type):
    rows = duckdb.sql(
        f"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE), COUNT(*)
            FROM '{SF_DIR}/events.parquet'
            WHERE event_type = '{event_type}' GROUP BY 1"""
    ).fetchall()
    return {d: int(n) for d, n in rows}


def _all_days():
    rows = duckdb.sql(
        f"""SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)
            FROM '{SF_DIR}/events.parquet'"""
    ).fetchall()
    return sorted(d for (d,) in rows)


class TestGrangerCausality:
    def test_matches_python_ols_f(self, spark):
        days = _all_days()
        clicks = _daily_counts("click")
        purch = _daily_counts("purchase")
        xs = [clicks.get(d, 0) for d in days]
        ys = [purch.get(d, 0) for d in days]
        w = ys[1:]          # y_t
        u = ys[:-1]         # y_{t-1}
        v = xs[:-1]         # x_{t-1}
        n = len(w)

        def c(a, b):
            return n * sum(p * q for p, q in zip(a, b)) - sum(a) * sum(b)

        cuu, cvv, cuv = c(u, u), c(v, v), c(u, v)
        cuw, cvw, cww = c(u, w), c(v, w), c(w, w)
        rss_r = cww - cuw * cuw / cuu
        det = cuu * cvv - cuv * cuv
        rss_u = cww - (
            cuw * (cvv * cuw - cuv * cvw) + cvw * (cuu * cvw - cuv * cuw)
        ) / det
        f = (rss_r - rss_u) * (n - 3) / rss_u
        r = QUERIES["ext_granger_causality"](spark, SF_DIR).collect()[0]
        assert (r["n"], r["cuu"], r["cvv"], r["cuv"]) == (n, cuu, cvv, cuv)
        assert (r["cuw"], r["cvw"], r["cww"]) == (cuw, cvw, cww)
        assert math.isclose(r["f_value"], f, rel_tol=1e-9)
        assert r["f_gt_4"] == (1 if r["f_value"] > 4.0 else 0)
        assert rss_u <= rss_r  # adding a regressor never hurts in-sample


class TestCovariateBalance:
    def test_matches_python_smd(self, spark):
        rows = duckdb.sql(
            f"""SELECT o_orderpriority IN ('1-URGENT','2-HIGH'),
                       CAST(FLOOR(o_totalprice + 0.5) AS BIGINT),
                       CAST(o_orderdate AS DATE)
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        epoch = __import__("datetime").date(1970, 1, 1)
        covs = defaultdict(lambda: defaultdict(lambda: [0, 0, 0]))
        for t, dollars, d in rows:
            for name, val in (
                ("price_dollars", int(dollars)),
                ("day_num", (d - epoch).days),
            ):
                m = covs[name][bool(t)]
                m[0] += 1
                m[1] += val
                m[2] += val * val
        out = {
            r["covariate"]: r
            for r in QUERIES["ext_covariate_balance"](spark, SF_DIR).collect()
        }
        assert set(out) == {"price_dollars", "day_num"}
        for name, arms in covs.items():
            n_t, s_t, ss_t = arms[True]
            n_c, s_c, ss_c = arms[False]
            r = out[name]
            assert (r["n_t"], r["s_t"], r["ss_t"]) == (n_t, s_t, ss_t)
            assert (r["n_c"], r["s_c"], r["ss_c"]) == (n_c, s_c, ss_c)
            v_t = (ss_t - s_t * s_t / n_t) / (n_t - 1)
            v_c = (ss_c - s_c * s_c / n_c) / (n_c - 1)
            smd = (s_t / n_t - s_c / n_c) / math.sqrt((v_t + v_c) / 2)
            assert math.isclose(r["smd"], smd, rel_tol=1e-12)
            assert r["imbalanced"] == (1 if abs(r["smd"]) > 0.1 else 0)
        # priority assignment is price-independent in the fixture → the
        # price covariate should pass balance (the screen has meaning)
        assert out["price_dollars"]["imbalanced"] == 0


class TestAdstockDecay:
    def test_matches_python_convolution(self, spark):
        days = _all_days()
        clicks = _daily_counts("click")
        epoch = __import__("datetime").date(1970, 1, 1)
        xs = {(d - epoch).days: clicks.get(d, 0) for d in days}
        keys = sorted(xs)
        want = {}
        for i, d in enumerate(keys):
            acc = 0
            for k, wgt in enumerate(ADSTOCK_W):
                if i - k >= 0:
                    acc += xs[keys[i - k]] * wgt
            want[d] = acc
        out = {
            r["d"]: r
            for r in QUERIES["ext_adstock_decay"](spark, SF_DIR).collect()
        }
        assert set(out) == set(want)
        for d in keys:
            assert out[d]["x"] == xs[d]
            assert out[d]["adstock_micro"] == want[d]
        # steady-state adstock exceeds the same-day signal (carry-over)
        mid = keys[len(keys) // 2]
        assert want[mid] > xs[mid] * 1_000_000 // 2
