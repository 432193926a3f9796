"""Round-6 eighty-ninth wave: optimal k-segmentation, SAX symbols."""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.drift import (
    SAX_GRAM,
    SAX_TOPN,
)
from databricks_sales_etl_pipeline_spark.extensions.scanops import OSEG_K

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def _sq_over(s, n):
    return (s // n) * s + ((s % n) * s) // n


def _monthly():
    return duckdb.sql(
        f"""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                        AS BIGINT),
                   CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT)
            FROM '{SF_DIR}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()


class TestOptimalSegmentation:
    def test_matches_python_dp(self, spark):
        monthly = _monthly()
        ms = [int(m) for m, _ in monthly]
        ys = [int(y) for _, y in monthly]
        n = len(ys)
        sv = [0] * (n + 1)
        qv = [0] * (n + 1)
        for i in range(1, n + 1):
            sv[i] = sv[i - 1] + ys[i - 1]
            qv[i] = qv[i - 1] + ys[i - 1] ** 2

        def sse(j, i):
            return qv[i] - qv[j] - _sq_over(sv[i] - sv[j], i - j)

        expect = {}
        c = [0] + [sse(0, i) for i in range(1, n + 1)]
        bp = [0] * (n + 1)
        expect[1] = (n, c[n], 0, 0)
        for k in range(2, OSEG_K + 1):
            nc, nbp = [0] * (n + 1), [0] * (n + 1)
            for i in range(1, n + 1):
                if i <= k - 1:
                    nc[i], nbp[i] = c[i], 0
                else:
                    key = min(
                        (c[j] + sse(j, i)) * 1000 + j
                        for j in range(k - 1, i)
                    )
                    nc[i], nbp[i] = key // 1000, key % 1000
            c, bp = nc, nbp
            expect[k] = (
                n, c[n], bp[n], ms[bp[n] - 1] if bp[n] else 0
            )
        got = {
            r["k"]: (
                r["n_months"], r["total_sse_dollars"],
                r["last_breakpoint"], r["last_breakpoint_month"],
            )
            for r in QUERIES["ext_optimal_segmentation"](
                spark, SF_DIR
            ).collect()
        }
        assert got == expect

    def test_sse_monotone_in_k(self, spark):
        rows = sorted(
            QUERIES["ext_optimal_segmentation"](spark, SF_DIR).collect(),
            key=lambda r: r["k"],
        )
        sses = [r["total_sse_dollars"] for r in rows]
        assert sses == sorted(sses, reverse=True)
        assert rows[-1]["last_breakpoint"] > 0


class TestSaxSymbolic:
    def test_matches_python_reference(self, spark):
        daily = duckdb.sql(
            f"""SELECT CAST(datediff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT),
                       CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                            AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' GROUP BY 1"""
        ).fetchall()
        wk = {}
        for d, v in daily:
            wk.setdefault(int(d) // 7, []).append(int(v))
        weekly = sorted(
            (w, sum(vs) // len(vs)) for w, vs in wk.items()
        )
        ranked = sorted((p, w) for w, p in weekly)
        n = len(ranked)
        q1 = next(p for i, (p, _) in enumerate(ranked, 1) if i * 4 >= n)
        q2 = next(p for i, (p, _) in enumerate(ranked, 1) if i * 2 >= n)
        q3 = next(p for i, (p, _) in enumerate(ranked, 1) if i * 4 >= 3 * n)
        syms = [
            "a" if p <= q1 else "b" if p <= q2 else "c" if p <= q3 else "d"
            for _, p in weekly
        ]
        grams = Counter(
            "".join(syms[i : i + SAX_GRAM])
            for i in range(len(syms) - SAX_GRAM + 1)
        )
        expect = sorted(((-c, g) for g, c in grams.items()))[:SAX_TOPN]
        got = [
            (-r["n_occurrences"], r["gram"])
            for r in QUERIES["ext_sax_symbolic"](spark, SF_DIR).collect()
        ]
        assert got == expect

    def test_alphabet_balanced(self, spark):
        rows = QUERIES["ext_sax_symbolic"](spark, SF_DIR).collect()
        letters = set("".join(r["gram"] for r in rows))
        assert letters <= set("abcd") and len(letters) >= 2
