"""Round-6 eighteenth wave: optimizer-statistics operators."""

from __future__ import annotations

import os

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.optstats import (
    CARD_BUCKETS,
    HIST_BUCKETS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestHistogramEquiheight:
    def test_equal_heights_and_ordered_ranges(self, spark):
        rows = sorted(
            QUERIES["ext_histogram_equiheight"](spark, SF_DIR).collect(),
            key=lambda r: r["bucket"],
        )
        assert [r["bucket"] for r in rows] == list(range(1, HIST_BUCKETS + 1))
        n_orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
        assert sum(r["n_rows"] for r in rows) == n_orders
        # ntile: bucket sizes differ by at most 1
        sizes = [r["n_rows"] for r in rows]
        assert max(sizes) - min(sizes) <= 1
        # value ranges are ordered and non-overlapping (boundary value may
        # repeat across adjacent buckets only if duplicated in data)
        for a, b in zip(rows, rows[1:]):
            assert a["lo_cents"] <= a["hi_cents"]
            assert a["hi_cents"] <= b["lo_cents"]
        for r in rows:
            assert 1 <= r["ndv"] <= r["n_rows"]


class TestJoinCardEstimate:
    def test_exact_cardinality_and_estimator(self, spark):
        import duckdb
        from collections import Counter

        a = Counter(
            dict(
                duckdb.sql(
                    f"""SELECT l_suppkey, COUNT(*) FROM '{SF_DIR}/lineitem.parquet'
                        WHERE l_linestatus = 'O' GROUP BY 1"""
                ).fetchall()
            )
        )
        b = Counter(
            dict(
                duckdb.sql(
                    f"""SELECT l_suppkey, COUNT(*) FROM '{SF_DIR}/lineitem.parquet'
                        WHERE l_returnflag = 'R' GROUP BY 1"""
                ).fetchall()
            )
        )
        rows = QUERIES["ext_join_card_estimate"](spark, SF_DIR).collect()
        assert rows and len(rows) <= CARD_BUCKETS
        total_true = 0
        for r in rows:
            keys = [
                k for k in a if k in b and k % CARD_BUCKETS == r["bucket"]
            ]
            true = sum(a[k] * b[k] for k in keys)
            assert r["true_card"] == true
            assert r["ndv_a"] == len(keys) == r["ndv_b"]
            assert r["n_a"] == sum(a[k] for k in keys)
            assert r["n_b"] == sum(b[k] for k in keys)
            est = r["n_a"] * r["n_b"] // max(r["ndv_a"], r["ndv_b"])
            assert r["est_card"] == est
            assert r["err_ppm"] == abs(est - true) * 1_000_000 // true
            total_true += true
        # full cross-check: the exact join size equals the bucket sum
        assert total_true == sum(a[k] * b[k] for k in a if k in b)
