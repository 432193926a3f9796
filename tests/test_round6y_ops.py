"""Round-6 twenty-fifth wave: Gini-gain feature ranking."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.trees import GAIN_LABEL_CENTS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestFeatureGiniGain:
    def test_matches_python_cart_criterion(self, spark):
        import duckdb
        from collections import Counter, defaultdict

        rows = duckdb.sql(
            f"""SELECT o_orderpriority, o_orderstatus,
                       CAST(month(CAST(o_orderdate AS DATE)) AS VARCHAR),
                       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                           > {GAIN_LABEL_CENTS}
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchall()
        n = len(rows)
        c1 = sum(1 for *_, y in rows if y)
        c0 = n - c1
        parent = (n * n - c1 * c1 - c0 * c0) * 1_000_000 // (n * n)
        feats = {"priority": 0, "status": 1, "month": 2}
        out = {r["feature"]: r for r in QUERIES["ext_feature_gini_gain"](spark, SF_DIR).collect()}
        assert set(out) == set(feats)
        gains = {}
        for fname, idx in feats.items():
            per_v = defaultdict(lambda: [0, 0])
            for row in rows:
                v = row[idx]
                per_v[v][0] += 1
                per_v[v][1] += 1 if row[3] else 0
            child = sum(
                (nv * nv - cv1 * cv1 - (nv - cv1) * (nv - cv1))
                * 1_000_000
                // (nv * n)
                for nv, cv1 in per_v.values()
            )
            r = out[fname]
            assert r["n_values"] == len(per_v)
            assert r["parent_gini_ppm"] == parent
            assert r["child_gini_ppm"] == child
            assert r["gain_ppm"] == parent - child
            gains[fname] = parent - child
        # ranks reflect descending gain with the name tiebreak
        want_order = sorted(gains, key=lambda f: (-gains[f], f))
        got_order = sorted(out, key=lambda f: out[f]["rk"])
        assert got_order == want_order
        # splitting can never increase impurity (gain >= 0 up to the
        # per-value truncation, which is at most n_values ppm)
        for fname, r in out.items():
            assert r["gain_ppm"] >= -r["n_values"]
