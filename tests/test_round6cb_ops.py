"""Round-6 eighty-third wave: Holt-Winters seasonal, IPF raking."""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.optstats import IPF_ROUNDS
from databricks_sales_etl_pipeline_spark.extensions.scanops import (
    HW_A,
    HW_B,
    HW_C,
    HW_M,
)

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _tdiv(a, d):
    return a // d if a >= 0 else -((-a) // d)


class TestHoltWinters:
    def test_matches_python_recurrence(self, spark):
        monthly = duckdb.sql(
            f"""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                            AS BIGINT) m,
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT)) AS BIGINT) y
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
        ).fetchall()
        ms = [int(m) for m, _ in monthly]
        ys = [int(y) for _, y in monthly]
        l = sum(ys[:HW_M]) // HW_M
        b = 0
        sl = [y - l for y in ys[:HW_M]]
        expect = []
        for t in range(HW_M + 1, len(ys) + 1):
            y = ys[t - 1]
            s_used = sl[0]
            f = l + b + s_used
            ln = _tdiv(y - s_used + (HW_A - 1) * (l + b), HW_A)
            b = _tdiv(ln - l + (HW_B - 1) * b, HW_B)
            s_new = _tdiv(y - ln + (HW_C - 1) * s_used, HW_C)
            l = ln
            sl = sl[1:] + [s_new]
            expect.append((t, ms[t - 1], y, l, b, s_new, f))
        got = sorted(
            (
                r["t"], r["m"], r["y_cents"], r["level_cents"],
                r["trend_cents"], r["season_cents"], r["forecast_cents"],
            )
            for r in QUERIES["ext_holt_winters"](spark, SF_DIR).collect()
        )
        assert got == expect

    def test_warmup_excluded(self, spark):
        rows = QUERIES["ext_holt_winters"](spark, SF_DIR).collect()
        assert min(r["t"] for r in rows) == HW_M + 1


class TestIpfRaking:
    def test_matches_python_ipf(self, spark):
        rows = duckdb.sql(
            f"""SELECT o.o_orderpriority, c.c_mktsegment, COUNT(*)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey
                GROUP BY 1, 2"""
        ).fetchall()
        cells = {(a, b): int(n) for a, b, n in rows}
        total = sum(cells.values())
        k1 = len({a for a, _ in cells})
        k2 = len({b for _, b in cells})
        t_row = total * 1000 // k1
        t_col = total * 1000 // k2
        w = {k: n * 1000 for k, n in cells.items()}
        for _ in range(IPF_ROUNDS):
            rs = defaultdict(int)
            for (a, b), v in w.items():
                rs[a] += v
            w = {(a, b): v * t_row // rs[a] for (a, b), v in w.items()}
            cs = defaultdict(int)
            for (a, b), v in w.items():
                cs[b] += v
            w = {(a, b): v * t_col // cs[b] for (a, b), v in w.items()}
        rsf = defaultdict(int)
        csf = defaultdict(int)
        for (a, b), v in w.items():
            rsf[a] += v
            csf[b] += v
        got = QUERIES["ext_ipf_raking"](spark, SF_DIR).collect()
        assert len(got) == len(cells)
        for r in got:
            k = (r["a"], r["b"])
            assert r["n"] == cells[k]
            assert r["w_milli"] == w[k]
            assert r["row_sum_milli"] == rsf[r["a"]]
            assert r["col_sum_milli"] == csf[r["b"]]
            assert (r["t_row_milli"], r["t_col_milli"]) == (t_row, t_col)

    def test_margins_converge(self, spark):
        rows = QUERIES["ext_ipf_raking"](spark, SF_DIR).collect()
        for r in rows:
            # after 4 rounds both margins sit within 0.1% of target
            assert abs(r["col_sum_milli"] - r["t_col_milli"]) <= (
                r["t_col_milli"] // 1000 + 25
            )
            assert abs(r["row_sum_milli"] - r["t_row_milli"]) <= (
                r["t_row_milli"] // 100
            )
