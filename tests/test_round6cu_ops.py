"""Round-6 hundred-second wave: Tukey fences, median polish."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.optstats import (
    MP_ROUNDS,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestTukeyFences:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT p.p_brand,
                       CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/lineitem.parquet' l
                JOIN '{SF_DIR}/part.parquet' p
                  ON p.p_partkey = l.l_partkey"""
        ).fetchall()
        per = defaultdict(list)
        for b, c in rows:
            per[b].append(int(c))
        expect = {}
        for b, cs in per.items():
            cs.sort()
            n = len(cs)
            q1 = next(c for i, c in enumerate(cs, 1) if i * 4 >= n)
            q3 = next(c for i, c in enumerate(cs, 1) if i * 4 >= 3 * n)
            lo = q1 - 3 * (q3 - q1) // 2
            hi = q3 + 3 * (q3 - q1) // 2
            out = sum(1 for c in cs if c < lo or c > hi)
            expect[b] = (n, q1, q3, lo, hi, out)
        got = {
            r["brand"]: (
                r["n"], r["q1"], r["q3"], r["fence_lo"], r["fence_hi"],
                r["n_outliers"],
            )
            for r in QUERIES["ext_tukey_fences"](spark, SF_DIR).collect()
        }
        assert got == expect

    def test_outliers_are_rare(self, spark):
        for r in QUERIES["ext_tukey_fences"](spark, SF_DIR).collect():
            assert r["n_outliers"] * 10 < r["n"]
            assert r["fence_lo"] < r["q1"] <= r["q3"] < r["fence_hi"]


class TestMedianPolish:
    def test_decomposition_reconciles_exactly(self, spark):
        rows = QUERIES["ext_median_polish"](spark, SF_DIR).collect()
        assert len(rows) == 25
        for r in rows:
            assert (
                r["row_eff"] + r["col_eff"] + r["residual_cents"]
                == r["value_cents"]
            )

    def test_matches_python_polish(self, spark):
        cells_raw = duckdb.sql(
            f"""SELECT o.o_orderpriority, c.c_mktsegment,
                       CAST(CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                          AS BIGINT)) AS BIGINT)
                            // COUNT(*) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                GROUP BY 1, 2"""
        ).fetchall()
        res = {(a, b): int(v) for a, b, v in cells_raw}
        row_eff = defaultdict(int)
        col_eff = defaultdict(int)
        rows_ = sorted({a for a, _ in res})
        cols_ = sorted({b for _, b in res})
        for _ in range(MP_ROUNDS):
            for a in rows_:
                m = sorted(res[(a, b)] for b in cols_)[2]
                row_eff[a] += m
                for b in cols_:
                    res[(a, b)] -= m
            for b in cols_:
                m = sorted(res[(a, b)] for a in rows_)[2]
                col_eff[b] += m
                for a in rows_:
                    res[(a, b)] -= m
        got = {
            (r["a"], r["b"]): (
                r["residual_cents"], r["row_eff"], r["col_eff"]
            )
            for r in QUERIES["ext_median_polish"](spark, SF_DIR).collect()
        }
        assert got == {
            k: (res[k], row_eff[k[0]], col_eff[k[1]]) for k in res
        }
