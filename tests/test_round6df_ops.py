"""Round-6 hundred-fourteenth wave: quantile treatment effects."""

from __future__ import annotations

import os

import duckdb

from databricks_sales_etl_pipeline_spark import registry
from databricks_sales_etl_pipeline_spark.extensions.analytics import QTE_QS

registry.load_all()
QUERIES = registry.QUERIES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


class TestQte:
    def test_matches_python_reference(self, spark):
        rows = duckdb.sql(
            f"""SELECT CASE WHEN c.c_mktsegment = 'BUILDING'
                            THEN 1 ELSE 0 END,
                       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
                FROM '{SF_DIR}/orders.parquet' o
                JOIN '{SF_DIR}/customer.parquet' c
                  ON c.c_custkey = o.o_custkey"""
        ).fetchall()
        groups = {0: [], 1: []}
        for t, v in rows:
            groups[int(t)].append(int(v))
        for g in groups.values():
            g.sort()

        def quant(g, q):
            n = len(g)
            for r, v in enumerate(g, 1):
                if r * 100 >= q * n:
                    return v

        got = {
            r["q"]: (r["treated_cents"], r["control_cents"],
                     r["qte_cents"])
            for r in QUERIES["ext_qte"](spark, SF_DIR).collect()
        }
        assert set(got) == set(QTE_QS)
        for q in QTE_QS:
            tq, cq = quant(groups[1], q), quant(groups[0], q)
            assert got[q] == (tq, cq, tq - cq)

    def test_null_fixture_effects_small(self, spark):
        rows = QUERIES["ext_qte"](spark, SF_DIR).collect()
        median_c = next(
            r["control_cents"] for r in rows if r["q"] == 50
        )
        for r in rows:
            # null data: every effect far below the median scale (thin
            # tails are noisier, so bound against q50, not per-quantile)
            assert abs(r["qte_cents"]) * 5 < median_c
        qs = sorted(r["q"] for r in rows)
        vals = [
            r["treated_cents"]
            for r in sorted(rows, key=lambda r: r["q"])
        ]
        assert vals == sorted(vals)  # quantiles monotone in q
